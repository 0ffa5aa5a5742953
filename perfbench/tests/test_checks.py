"""The harness's expected-answer check, run against the real pipeline.

Builds the program and harness like `run.py` does (reusing its build),
compiles `CheckTest.scala` next to them and runs it on a tiny month.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
import gen_pdq  # noqa: E402
import run  # noqa: E402

JARS = run.spark_jars()


@unittest.skipUnless(os.path.isdir(JARS), "needs Spark's jars")
class ExpectedAnswerCheckTest(unittest.TestCase):
    def test_passes_on_tiny_month_and_fails_on_perturbed_fact(self):
        build_dir = os.path.abspath(os.path.join(
            os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
        os.makedirs(build_dir, exist_ok=True)
        classes, hclasses = run.build(build_dir, JARS)
        test_dir = os.path.join(build_dir, "checktest")
        shutil.rmtree(test_dir, ignore_errors=True)
        tclasses = os.path.join(test_dir, "classes")
        run.scalac(JARS, os.pathsep.join([hclasses, classes]), tclasses,
                   [os.path.join(HERE, "CheckTest.scala")],
                   os.path.join(test_dir, "compile.log"))
        inputs = os.path.join(test_dir, "inputs")
        gen_pdq.generate(4, inputs, leases=500, operators=20)
        out = subprocess.run(
            ["java", "-Xmx1g"] +
            [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in run.ADD_OPENS] +
            ["-Djava.io.tmpdir=" + test_dir,
             "-cp", os.pathsep.join([tclasses, hclasses, classes,
                                     os.path.join(JARS, "*")]),
             "CheckTest", inputs, os.path.join(test_dir, "work")],
            capture_output=True, text=True, timeout=300)
        lines = out.stdout.splitlines()
        self.assertEqual(out.returncode, 0, out.stdout + out.stderr[-2000:])
        self.assertIn("clean: ", lines)
        self.assertEqual(lines[-1], "PASS")
        shutil.rmtree(test_dir, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
