"""Generate ocr_spark/functions/uniconst.py — the PINNED cross-engine
Unicode contract.

Unicode-property surfaces are engine-version quicksand: JDK 17's regex
tables and case mappings disagree with DuckDB/RE2's on codepoints
assigned or re-mapped between their Unicode versions (measured: U+10571
VITHKUQI CAPITAL BBE is \\p{L} in RE2 but not in Java, while Java
LOWERCASES it and DuckDB does not; U+0130 LATIN CAPITAL I WITH DOT ABOVE
lowers to 'i'+U+0307 in Java but 'i' in DuckDB). Any gate whose value
hash flows through lower()/\\p{L}/\\p{N} therefore diverges on content
containing such codepoints — the same class of failure as the round-4
whitespace-shorthand drift, one table over.

Two contract pieces, chosen for both portability AND speed:

* ``FOLD_FROM``/``FOLD_TO`` — the case-fold mapping, as translate()
  argument strings: every codepoint where Java's lower() and DuckDB's
  lower() agree on a single-codepoint result differing from the input.
  Disputed or 1:n codepoints are EXCLUDED (they fold to themselves) —
  deterministic in both engines. translate() is a per-char O(1) map
  lookup in both engines, so this costs ~what lower() costs.

* ``RE2_ONLY_LETTER_BODY``/``JAVA_ONLY_LETTER_BODY`` (and the _DIGIT_
  pair) — the tiny per-engine DIFF sets, as \\x{..}-range class bodies.
  The shared letter table is defined to be **RE2's current \\p{L}**, so
  the DuckDB oracles keep the plain (fast, native) ``\\p{L}``/``\\p{N}``
  shorthands, and the Java side reproduces that exact table with class
  algebra: ``[\\p{L}<re2-only>&&[^<java-only>]]`` — a native property
  node plus a handful of extra atoms, ~as fast as bare ``\\p{L}``.
  (A first cut emitted the full 1112-range intersection class instead;
  Java's regex engine walks class atoms linearly, and the token_stats
  gate went 0.27 s → 9.2 s at sf0.1. The diff-algebra form keeps the
  property-table fast path in BOTH engines.)

The table is pinned to the two engines in THIS image (pyspark 4.1.2 /
bundled DuckDB); the adversarial-parity fuzz suite re-verifies the
agreement empirically on every CI run, so an engine upgrade that drifts
the tables fails loudly. Regenerate by rerunning this script under the
new engines. Verification (every codepoint of the composed classes
matches between both engines, and the fold round-trips identically) runs
as part of generation.
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import duckdb
from pyspark.sql import functions as F

from ocr_spark.session import get_spark

MAX_CP = 0x110000
SURROGATES = range(0xD800, 0xE000)


def _chunks(cps: list[int]) -> list[tuple[int, int]]:
    """Sorted codepoints as contiguous (start, end) inclusive ranges."""
    out: list[tuple[int, int]] = []
    for cp in cps:
        if out and cp == out[-1][1] + 1:
            out[-1] = (out[-1][0], cp)
        else:
            out.append((cp, cp))
    return out


def _class_body(cps: list[int]) -> str:
    parts = []
    for a, b in _chunks(sorted(cps)):
        parts.append(f"\\x{{{a:x}}}" if a == b else f"\\x{{{a:x}}}-\\x{{{b:x}}}")
    return "".join(parts)


def main() -> None:
    spark = get_spark(master="local[16]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()

    cps = [cp for cp in range(MAX_CP) if cp not in SURROGATES]
    chars = [chr(cp) for cp in cps]

    # ---- Java side (one Spark pass over all codepoints) ----
    df = spark.createDataFrame(
        [(cp, c) for cp, c in zip(cps, chars)], "cp long, c string"
    ).repartition(32)
    got = df.select(
        "cp",
        (F.regexp_count("c", F.lit(r"\p{L}")) > 0).alias("jl"),
        (F.regexp_count("c", F.lit(r"\p{N}")) > 0).alias("jn"),
        F.lower("c").alias("jlo"),
    ).collect()
    java = {r["cp"]: (r["jl"], r["jn"], r["jlo"]) for r in got}

    # ---- DuckDB side (one vectorized pass) ----
    con.execute("create table t(cp bigint, c varchar)")
    con.executemany("insert into t values (?, ?)", list(zip(cps, chars)))
    duck = {
        row[0]: (bool(row[1]), bool(row[2]), row[3])
        for row in con.execute(
            r"select cp, regexp_matches(c, '\p{L}'),"
            r" regexp_matches(c, '\p{N}'), lower(c) from t"
        ).fetchall()
    }

    re2_only_l, java_only_l = [], []
    re2_only_n, java_only_n = [], []
    fold_from, fold_to = [], []
    target_l, target_n = [False] * MAX_CP, [False] * MAX_CP
    for cp in cps:
        jl, jn, jlo = java[cp]
        dl, dn, dlo = duck[cp]
        target_l[cp], target_n[cp] = dl, dn  # the shared table IS RE2's
        if dl and not jl:
            re2_only_l.append(cp)
        if jl and not dl:
            java_only_l.append(cp)
        if dn and not jn:
            re2_only_n.append(cp)
        if jn and not dn:
            java_only_n.append(cp)
        c = chr(cp)
        if jlo == dlo and jlo != c and len(jlo) == 1:
            fold_from.append(c)
            fold_to.append(jlo)

    bodies = {
        "RE2_ONLY_LETTER_BODY": _class_body(re2_only_l),
        "JAVA_ONLY_LETTER_BODY": _class_body(java_only_l),
        "RE2_ONLY_DIGIT_BODY": _class_body(re2_only_n),
        "JAVA_ONLY_DIGIT_BODY": _class_body(java_only_n),
    }
    fold_from_s, fold_to_s = "".join(fold_from), "".join(fold_to)

    # ---- compose the Java-side classes exactly as textstats does ----
    def java_class(prop: str, adds: str, subs: str) -> str:
        body = prop + adds
        return "[" + body + ("&&[^" + subs + "]" if subs else "") + "]"

    jl_class = java_class(r"\p{L}", bodies["RE2_ONLY_LETTER_BODY"],
                          bodies["JAVA_ONLY_LETTER_BODY"])
    jn_class = java_class(r"\p{N}", bodies["RE2_ONLY_DIGIT_BODY"],
                          bodies["JAVA_ONLY_DIGIT_BODY"])

    # ---- verify: composed Java classes == RE2 tables and the translate
    # fold == both engines' lower(), on EVERY diff codepoint and EVERY fold
    # pair plus a broad sweep ----
    probe = sorted(
        set(re2_only_l + java_only_l + re2_only_n + java_only_n)
        | {ord(c) for c in fold_from}
        | set(range(0x0, 0x3000))
        | set(cps[::211])
    )
    probe = [cp for cp in probe if cp not in SURROGATES and cp < MAX_CP]
    pdf = spark.createDataFrame(
        [(cp, chr(cp)) for cp in probe], "cp long, c string"
    )
    vr = pdf.select(
        "cp",
        (F.regexp_count("c", F.lit(jl_class)) > 0).alias("l"),
        (F.regexp_count("c", F.lit(jn_class)) > 0).alias("n"),
        F.translate("c", fold_from_s, fold_to_s).alias("f"),
    ).collect()
    for r in vr:
        cp = r["cp"]
        assert r["l"] == target_l[cp], f"java composed letter drift at {cp:#x}"
        assert r["n"] == target_n[cp], f"java composed digit drift at {cp:#x}"
    jf = {r["cp"]: r["f"] for r in vr}
    dv = con.execute(
        r"select cp, regexp_matches(c, '\p{L}'), regexp_matches(c, '\p{N}'),"
        " translate(c, ?, ?) from t",
        [fold_from_s, fold_to_s],
    ).fetchall()
    for cp, dl, dn, dfo in dv:
        assert bool(dl) == target_l[cp], f"duck letter drift at {cp:#x}"
        assert bool(dn) == target_n[cp], f"duck digit drift at {cp:#x}"
        if cp in jf:
            assert dfo == jf[cp], f"fold drift at {cp:#x}"

    n_l = sum(target_l)
    n_n = sum(target_n)
    with open("/root/repo/ocr_spark/functions/uniconst.py", "w") as f:
        f.write('"""PINNED cross-engine Unicode contract — GENERATED, do not hand-edit.\n\n')
        f.write("Produced by scripts/gen_unicode_contract.py (see its docstring for why\n")
        f.write("and how). The shared letter/digit tables are DuckDB/RE2's current\n")
        f.write("\\\\p{L}/\\\\p{N}; the *_ONLY_* bodies are the tiny per-engine diff sets\n")
        f.write("that let the Java side reproduce that exact table with fast class\n")
        f.write("algebra while the SQL oracles keep the bare shorthand. The case fold\n")
        f.write("is the agreement set of both engines' lower(), 1:1 mappings only.\n")
        f.write(f"Table sizes: {n_l} letters, {n_n} digits; diffs: "
                f"{len(re2_only_l)}/{len(java_only_l)} letters, "
                f"{len(re2_only_n)}/{len(java_only_n)} digits (re2-only/java-only); "
                f"{len(fold_from)} fold pairs.\n")
        f.write('"""\n\n')
        for name, body in bodies.items():
            f.write(f"{name} = {body!r}\n\n")
        f.write("# translate() argument strings: FROM[i] folds to TO[i]\n")
        f.write(f"FOLD_FROM = {fold_from_s!r}\n\n")
        f.write(f"FOLD_TO = {fold_to_s!r}\n")
    print(
        f"written: diffs L +{len(re2_only_l)}/-{len(java_only_l)}, "
        f"N +{len(re2_only_n)}/-{len(java_only_n)}, fold {len(fold_from)} pairs"
    )


if __name__ == "__main__":
    main()
