#!/usr/bin/env python3
"""Seeded generator of PDQ-shaped `.dsv` exports plus their expected answer.

Writes, into an output directory:

- ``operator.dsv`` and ``lease.dsv``: `}`-delimited exports with the RRC
  PDQ headers (FIXTURES.md A1), covering ``--months`` consecutive months
  starting at ``--start``;
- ``expected.json``: what `Pipeline.runMonth` must produce for each
  month, computed from the generated values alone (the pipeline is never
  run here).

Shape of the data:

- half the lease rows carry their measures in ``OIL_PROD_VOL``-style
  columns, half in ``LEASE_*_PROD_VOL`` columns;
- about 1% of lease measure values are edge tokens the casts disagree on
  (``""``, ``" "``, ``NULL``, ``null``, ``NaN``, ``nan``, ``12.0``, ``-5``);
- about 1.5% of lease rows repeat a ``(district-lease, month)`` key with
  the same attributes and different measures; leases are drawn without
  replacement, so keys never collide by accident;
- some rows fall below month 200001 and are dropped at extract;
- some rows leave ``CYCLE_YEAR_MONTH`` blank, so the month is derived
  from ``CYCLE_YEAR``/``CYCLE_MONTH``;
- each operator's totals equal the roll-up of its leases, except for a
  known set of operators whose oil total is off by 100 barrels.

The same arguments give byte-identical files.

Usage: python3 gen_pdq.py --seed 7 --out DIR [--months 1] [--leases 20000]
       [--operators 500]
"""
import argparse
import json
import os
import random

OPERATOR_HEADER = [
    "OPERATOR_NO", "OPERATOR_NAME", "CYCLE_YEAR", "CYCLE_MONTH",
    "CYCLE_YEAR_MONTH", "OPER_OIL_PROD_VOL", "OPER_GAS_PROD_VOL",
    "OPER_COND_PROD_VOL", "OPER_CSGD_PROD_VOL"]
LEASE_HEADER = [
    "OPERATOR_NO", "DISTRICT_NO", "FIELD_NO", "LEASE_NO", "LEASE_NAME",
    "CYCLE_YEAR", "CYCLE_MONTH", "CYCLE_YEAR_MONTH",
    "OIL_PROD_VOL", "GAS_PROD_VOL", "COND_PROD_VOL", "CSGD_PROD_VOL",
    "LEASE_OIL_PROD_VOL", "LEASE_GAS_PROD_VOL", "LEASE_COND_PROD_VOL",
    "LEASE_CSGD_PROD_VOL"]
MEASURES = ["oil_bbl", "gas_mcf", "cond_bbl", "csgd_mcf"]

# edge token -> the value in cents the pipeline's casts give it
EDGE_TOKENS = [("", 0), (" ", 0), ("NULL", 0), ("null", 0), ("NaN", 0),
               ("nan", 0), ("12.0", 1200), ("-5", -500)]
EDGE_RATE = 0.01
DUP_RATE = 0.015
OLD_MONTH_RATE = 0.003
DERIVED_MONTH_RATE = 0.05
MISMATCH_RATE = 0.01
MISMATCH_CENTS = 10000
# measure magnitudes in cents: oil, gas, condensate, casinghead gas
MEASURE_SCALE = [500000, 5000000, 50000, 200000]
DISTRICTS = 14
START = 202301
# share of the lease universe present in each month of a multi-month export
RECUR = 0.9


def months_from(start, n):
    y, m = divmod(start, 100)
    out = []
    for _ in range(n):
        out.append(y * 100 + m)
        m += 1
        if m > 12:
            y, m = y + 1, 1
    return out


def cents_str(c):
    sign = "-" if c < 0 else ""
    c = abs(c)
    return f"{sign}{c // 100}.{c % 100:02d}"


def draw_measure(rng, k):
    """(token written to the file, value in cents the pipeline reads)."""
    if rng.random() < EDGE_RATE:
        return EDGE_TOKENS[rng.randrange(len(EDGE_TOKENS))]
    if rng.random() < 0.1:
        return "0", 0
    c = rng.randrange(MEASURE_SCALE[k])
    return cents_str(c), c


def generate(seed, out, months=1, leases=20000, operators=500):
    rng = random.Random(seed)
    month_list = months_from(START, months)
    os.makedirs(out, exist_ok=True)

    # lease universe: enough distinct leases that each month holds about
    # `leases` keys; lease numbers are a sample without replacement
    pool = int(leases / RECUR) + 1 if months > 1 else leases
    lease_nos = rng.sample(range(10000, 10000 + pool * 20), pool)
    lease_attrs = []
    for i, no in enumerate(lease_nos):
        op = 100000 + rng.randrange(operators)
        district = 1 + rng.randrange(DISTRICTS)
        field = 50000 + rng.randrange(max(1, pool // 40))
        lease_attrs.append((op, district, field, no, f"LEASE {no} UNIT"))
    op_names = {100000 + i: ("NULL" if rng.random() < 0.01
                             else f"OPERATOR {100000 + i} CO")
                for i in range(operators)}
    mismatch_ops = sorted(rng.sample(sorted(op_names),
                                     max(1, int(operators * MISMATCH_RATE))))
    mismatch_set = set(mismatch_ops)

    lease_lines = ["}".join(LEASE_HEADER)]
    op_lines = ["}".join(OPERATOR_HEADER)]
    expected = {"seed": seed, "months": {}}
    seen_ops, seen_leases = set(), set()
    seen_districts, seen_fields = set(), set()
    dsv_rows = {"lease": 0, "operator": 0}

    def lease_line(attrs, yyyymm, tokens, variant, derive):
        op, district, field, no, name = attrs
        y, m = divmod(yyyymm, 100)
        ym = "" if derive else str(yyyymm)
        empty = ["", "", "", ""]
        vols = tokens + empty if variant == 0 else empty + tokens
        return "}".join([str(op), f"{district:02d}", str(field), str(no), name,
                         str(y), f"{m:02d}", ym] + vols)

    for yyyymm in month_list:
        present = [i for i in range(pool)
                   if months == 1 or rng.random() < RECUR]
        rng.shuffle(present)
        lease_sum = {}          # lease index -> [cents x4] after dedupe
        rows = []
        for i in present:
            copies = 2 if rng.random() < DUP_RATE else 1
            for _ in range(copies):
                drawn = [draw_measure(rng, k) for k in range(4)]
                acc = lease_sum.setdefault(i, [0, 0, 0, 0])
                for k in range(4):
                    acc[k] += drawn[k][1]
                rows.append(lease_line(
                    lease_attrs[i], yyyymm, [t for t, _ in drawn],
                    rng.randrange(2), rng.random() < DERIVED_MONTH_RATE))
        # rows below the 200001 floor, dropped at extract
        for _ in range(max(1, int(len(present) * OLD_MONTH_RATE))):
            i = rng.randrange(pool)
            old = 199000 + rng.randrange(10) * 100 + 1 + rng.randrange(12)
            rows.append(lease_line(lease_attrs[i], old,
                                   [cents_str(rng.randrange(100000))] * 4,
                                   rng.randrange(2), False))
        rng.shuffle(rows)
        month_bytes = sum(len(r) + 1 for r in rows)
        lease_lines.extend(rows)
        dsv_rows["lease"] += len(rows)

        op_tot = {}
        for i, acc in lease_sum.items():
            t = op_tot.setdefault(lease_attrs[i][0], [0, 0, 0, 0])
            for k in range(4):
                t[k] += acc[k]
        op_rows = []
        y, m = divmod(yyyymm, 100)
        op_month = {}
        for op in sorted(op_tot):
            tot = list(op_tot[op])
            if op in mismatch_set:
                tot[0] += MISMATCH_CENTS
            op_month[op] = tot
            ym = "" if rng.random() < DERIVED_MONTH_RATE else str(yyyymm)
            op_rows.append("}".join([str(op), op_names[op], str(y), f"{m:02d}",
                                     ym] + [cents_str(c) for c in tot]))
        rng.shuffle(op_rows)
        month_bytes += sum(len(r) + 1 for r in op_rows)
        op_lines.extend(op_rows)
        dsv_rows["operator"] += len(op_rows)

        def sums(vals):
            return [sum(v[k] for v in vals) for k in range(4)]

        def over_tol(op):
            # Dq.reconcile's 0.5 tolerance, in cents
            return any(abs(a - b) > 50 for a, b in zip(op_month[op], op_tot[op]))

        seen_ops.update(op_month)
        for i in lease_sum:
            seen_leases.add(i)
            seen_districts.add(lease_attrs[i][1])
            seen_fields.add(lease_attrs[i][2])
        expected["months"][str(yyyymm)] = {
            "dsv_bytes": month_bytes,
            "staging_operator_rows": len(op_month),
            "staging_lease_rows": len(lease_sum),
            "operator_cents": dict(zip(MEASURES, sums(op_month.values()))),
            "lease_cents": dict(zip(MEASURES, sums(lease_sum.values()))),
            "dq": {
                "negativeOperator": sum(
                    1 for v in op_month.values() if min(v) < 0),
                "negativeLease": sum(
                    1 for v in lease_sum.values() if min(v) < 0),
                "duplicateOperatorKeys": 0,
                "duplicateLeaseKeys": 0,
                "rollupMismatches": sum(1 for op in op_month if over_tol(op)),
            },
            "dims_after": {
                "dim_operator": len(seen_ops), "dim_lease": len(seen_leases),
                "dim_district": len(seen_districts),
                "dim_field": len(seen_fields)},
        }

    for name, lines in (("lease.dsv", lease_lines),
                        ("operator.dsv", op_lines)):
        with open(os.path.join(out, name), "w", newline="\n") as f:
            f.write("\n".join(lines))
            f.write("\n")
    expected["dsv_rows"] = dsv_rows
    expected["dsv_bytes"] = {
        k: os.path.getsize(os.path.join(out, f"{k}.dsv"))
        for k in ("lease", "operator")}
    expected["month_list"] = month_list
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--months", type=int, default=1)
    ap.add_argument("--leases", type=int, default=20000)
    ap.add_argument("--operators", type=int, default=500)
    a = ap.parse_args()
    generate(a.seed, a.out, a.months, a.leases, a.operators)


if __name__ == "__main__":
    main()
