"""Driver-hash dtype audit (dev-only tooling; the shipped engine is the
Scala tree under src/).

The driver's correctness gate hashes pandas values and is TYPE-
sensitive in one specific way: a column that lands as `object` on one
side (DuckDB HUGEINT/INT128, wide DECIMAL kept as Python Decimal) and
as a NUMERIC dtype on the other hashes differently even when every
cell is equal — the round-6 HUGEINT family, re-hit in round 14 by
q_beh_attribution's DECIMAL(38,0). Integer WIDTH mismatches
(int8/int32/int64) are benign — 14 rounds of green driver rows across
17 such columns prove it — so this audit flags only the dangerous
KIND classes:

  - object vs numeric (the red-row class: fix by emitting a canonical
    STRING or ::BIGINT on BOTH sides)
  - float vs integer (a 3.0-vs-3 repr/hash hazard)

`tools/check.py` runs this audit on every query, over the oracle
results its compare has already replayed, and exits 1 if any dangerous
mismatch exists.
"""


def kind(dtype: str) -> str:
    if dtype == "object":
        return "object"
    if dtype.startswith("float"):
        return "float"
    if dtype.startswith(("int", "uint", "Int")):
        return "int"
    if dtype.startswith("bool"):
        return "bool"
    if dtype.startswith("datetime"):
        return "datetime"
    return dtype


def audit(name, sdf, odf, dangerous, benign, errs):
    """Compare one query's Spark-side and oracle-side pandas dtypes."""
    s = dict(sdf.dtypes.astype(str))
    o = dict(odf.dtypes.astype(str))
    # a column on only one side is name drift between the engine and
    # the oracle output — report it, don't silently skip it (the
    # driver's compare would fail on it anyway; this keeps the audit
    # a superset of what can go red)
    for c in sorted(s.keys() ^ o.keys()):
        errs.append((name, f"column {c!r} only on "
                     f"{'spark' if c in s else 'oracle'} side"))
    for c in s:
        if c in o and s[c] != o[c]:
            row = (name, c, s[c], o[c])
            if kind(s[c]) != kind(o[c]):
                dangerous.append(row)
            else:
                benign.append(row)


def report(dangerous, benign, errs, n_oracled):
    """Print the audit; returns 1 if anything is dangerous or failed."""
    for n, c, a, b in dangerous:
        print(f"[DANGER] {n}.{c}: spark={a} oracle={b} — hash-unstable "
              "kind mismatch; emit a canonical STRING/::BIGINT both sides")
    for n, c, a, b in benign:
        print(f"[ ok   ] {n}.{c}: spark={a} oracle={b} (width-only)")
    for n, e in errs:
        print(f"[ ERR  ] {n}: {e}")
    print(f"== {len(dangerous)} dangerous, {len(benign)} width-only, "
          f"{len(errs)} errors across {n_oracled} oracled queries")
    return 1 if dangerous or errs else 0
