#!/usr/bin/env python3
"""Compare two ScaleBench stdout captures.

    python3 tools/scale_diff.py A.txt B.txt

A capture is the stdout of `runMain graft.ScaleBench`: a sequence of
curves (a CSV header, then one row per size) and a few one-line
records (`rank_build_50k_sec,...`, `hub_stress: ...`). sbt log lines
(`[info] ...`) and blank lines are skipped.

The skeleton must be identical: the same headers in the same order,
the same number of rows, and every cell of a column whose name does
not contain `sec` (sizes, row counts, `rounds`, `front_rows`,
`prefix_token_frac`, ...) equal as printed. In a one-line record the
integers are skeleton and the decimals are times.

For every time cell it prints the B/A ratio, and for every time
column the last/first-size ratio (x4/x1 for a x1/x2/x4 curve) on each
side. Exit status: 0 when the skeletons match, 1 when they do not,
2 on bad usage.
"""
import re
import sys

NAME = re.compile(r"^[a-z][a-z0-9_]*$")
NUMBER = re.compile(r"^-?\d+(\.\d+)?$")
DECIMAL = re.compile(r"-?\d+\.\d+")


def parse(path):
    """List of records: ("curve", header, rows) or ("line", text)."""
    records = []
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.strip()
            if not line or line.startswith("["):
                continue
            fields = line.split(",")
            if len(fields) > 1 and all(NAME.match(x) for x in fields):
                records.append(("curve", fields, []))
            elif (NUMBER.match(fields[0]) and records
                  and records[-1][0] == "curve"
                  and len(records[-1][1]) == len(fields)):
                records[-1][2].append(fields)
            else:
                records.append(("line", line))
    return records


def ratio(a, b):
    a, b = float(a), float(b)
    return f"{b / a:.2f}" if a > 0 else "n/a"


def compare(ra, rb, out):
    """Prints the time ratios; returns the list of skeleton differences."""
    bad = []
    if len(ra) != len(rb):
        bad.append(f"{len(ra)} records in A, {len(rb)} in B")
    for i, (a, b) in enumerate(zip(ra, rb)):
        where = f"record {i + 1}"
        if a[0] != b[0]:
            bad.append(f"{where}: {a[0]} in A, {b[0]} in B")
            continue
        if a[0] == "line":
            if DECIMAL.sub("#", a[1]) != DECIMAL.sub("#", b[1]):
                bad.append(f"{where}: line {a[1]!r} vs {b[1]!r}")
                continue
            ta, tb = DECIMAL.findall(a[1]), DECIMAL.findall(b[1])
            out.append(f"{a[1].split(',')[0]}: B/A "
                       + " ".join(ratio(x, y) for x, y in zip(ta, tb)))
            continue
        header, rows_a, rows_b = a[1], a[2], b[2]
        if header != b[1]:
            bad.append(f"{where}: header {','.join(header)} vs {','.join(b[1])}")
            continue
        if len(rows_a) != len(rows_b):
            bad.append(f"{where} ({header[0]}): {len(rows_a)} rows in A, "
                       f"{len(rows_b)} in B")
        for ca, cb in zip(rows_a, rows_b):
            for name, x, y in zip(header, ca, cb):
                if "sec" not in name and x != y:
                    bad.append(f"{where} ({','.join(header)}): {name} "
                               f"{x} vs {y} at {header[0]}={ca[0]}")
        out.append(",".join(header))
        for j, name in enumerate(header):
            if "sec" not in name:
                continue
            cells = " ".join(f"{ca[0]}:{ratio(ca[j], cb[j])}"
                             for ca, cb in zip(rows_a, rows_b))
            span = ""
            if len(rows_a) > 1 and len(rows_b) > 1:
                span = (f"   last/first A {ratio(rows_a[0][j], rows_a[-1][j])}"
                        f" ({rows_a[0][j]}->{rows_a[-1][j]} s)"
                        f"  B {ratio(rows_b[0][j], rows_b[-1][j])}"
                        f" ({rows_b[0][j]}->{rows_b[-1][j]} s)")
            out.append(f"  {name}  B/A {cells}{span}")
    return bad


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    ra, rb = parse(argv[1]), parse(argv[2])
    out = []
    bad = compare(ra, rb, out)
    print("\n".join(out))
    curves = sum(1 for r in ra if r[0] == "curve")
    if bad:
        print(f"SKELETON MISMATCH ({len(bad)}):")
        for b in bad:
            print(f"  {b}")
        return 1
    print(f"SKELETON IDENTICAL: {curves} curves, "
          f"{len(ra) - curves} one-line records")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
