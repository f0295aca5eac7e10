"""Supplementary-plane (astral) cross-engine casing probe.

The LOWER_SQL shim in bioner_spark/contract/sql.py was derived exhaustively over the
BMP.  This probe extends the derivation to planes 1-16: for every
supplementary codepoint it compares, between Spark (ICU) and DuckDB
(utf8proc + RE2),

  1. the lower() mapping itself, and
  2. the char's Final_Sigma context class (cased / case-ignorable /
     neither), measured behaviourally on Spark via two sigma probes and
     structurally on DuckDB via the shim's regex classes.

Prints a JSON report of every diff so the shim classes / translate chain
can be patched with explicit ranges.  Run: python scripts/astral_probe.py
"""

from __future__ import annotations

import json
import sys
import unicodedata

sys.path.insert(0, ".")

import duckdb  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bioner_spark.session import get_spark  # noqa: E402
from bioner_spark.contract.sql import _CASED_CLASS, _CI_CLASS, _expand_lower_sql  # noqa: E402


def supplementary_codepoints():
    # Skip unassigned-by-everyone fast: keep every codepoint that is
    # assigned in THIS Python's unicodedata OR could matter anyway (we keep
    # all; 1M rows is cheap for a one-shot probe but restrict to assigned +
    # letters/marks/format to keep the Spark job small).
    cps = []
    for cp in range(0x10000, 0x110000):
        ch = chr(cp)
        cat = unicodedata.category(ch)
        if cat == "Cn":
            # Unassigned per this Python's tables — ICU may still know it
            # (newer Unicode).  Keep plane 1 + plane 14 where new scripts
            # land; skip planes 2/3 (CJK ideographs, caseless) and private
            # use.
            if not (0x10000 <= cp <= 0x1FFFF or 0xE0000 <= cp <= 0xE01FF):
                continue
        elif cat in ("Co", "Cs"):
            continue
        cps.append(cp)
    return cps


def main():
    cps = supplementary_codepoints()
    print(f"probing {len(cps)} supplementary codepoints", file=sys.stderr)

    spark = get_spark("astral_probe")
    df = spark.createDataFrame([(cp, chr(cp)) for cp in cps], "cp int, ch string")
    # lower mapping + the two sigma probes (cased-before test: ch+Σ ends ς;
    # ci-or-cased test: Α+ch+Σ ends ς).
    probed = df.select(
        "cp",
        F.lower("ch").alias("lo"),
        F.lower(F.concat("ch", F.lit("Σ"))).alias("p1"),
        F.lower(F.concat(F.lit("Α"), "ch", F.lit("Σ"))).alias("p2"),
    ).collect()
    spark_lower = {}
    spark_class = {}
    for r in probed:
        cp, ch = r["cp"], chr(r["cp"])
        # strip the probe suffix: lower(ch) is everything before the final
        # sigma char of p1 minus ch's own lowering — just use lo directly.
        spark_lower[cp] = r["lo"]
        cased = r["p1"].endswith("ς")
        ci = (not cased) and r["p2"].endswith("ς")
        spark_class[cp] = "cased" if cased else ("ci" if ci else "none")

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ",".join(f"({cp})" for cp in cps)
        + ") v(cp)"
    )
    rows = con.execute(
        f"""
        SELECT cp, lower(chr(cp)) AS lo,
               regexp_matches(chr(cp), '^[{_CASED_CLASS}]$') AS cased,
               regexp_matches(chr(cp), '^[{_CI_CLASS}]$') AS ci,
               {_expand_lower_sql("LOWER_SQL(chr(cp) || 'Σ')")} AS p1
        FROM t
        """
    ).fetchall()

    lower_diffs, class_diffs, shim_diffs = [], [], []
    for cp, lo, cased, ci, p1 in rows:
        dclass = "cased" if cased else ("ci" if ci else "none")
        sclass = spark_class[cp]
        if lo != spark_lower[cp]:
            lower_diffs.append(
                {
                    "cp": hex(cp),
                    "duck": [hex(ord(c)) for c in lo],
                    "spark": [hex(ord(c)) for c in spark_lower[cp]],
                }
            )
        if dclass != sclass:
            class_diffs.append({"cp": hex(cp), "duck": dclass, "spark": sclass})
        # end-to-end shim check on the cased-before probe string
        want = spark_lower[cp] + ("ς" if sclass == "cased" else "σ")
        if p1 != want:
            shim_diffs.append(
                {"cp": hex(cp), "shim": p1[-1], "want": want[-1],
                 "lower_diff": lo != spark_lower[cp]}
            )

    print(
        json.dumps(
            {
                "n": len(cps),
                "lower_diffs": len(lower_diffs),
                "class_diffs": len(class_diffs),
                "shim_diffs": len(shim_diffs),
                "lower_detail": lower_diffs,
                "class_detail": class_diffs,
                "shim_detail": shim_diffs,
            },
            indent=1,
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
