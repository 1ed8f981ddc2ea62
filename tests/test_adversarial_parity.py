"""Adversarial-content parity: the driver rotates its corpus, and round 4
proved the local sf tables under-exercise the word-split / float-edge
contract (three gates passed local parity yet hash-failed on the driver's
corpus).  This suite re-runs every documents-only oracle gate over a
planted corpus of exactly the divergence candidates:

* every ASCII whitespace char incl. ``\\x0b``, CRLF, and runs/edges of them
* non-ASCII "whitespace-lookalikes" that are NOT whitespace under the
  explicit shared class: NBSP, ideographic space, NEL, zero-width, BOM
* control chars (FS/GS/RS/US, DEL, BEL, NUL inside a word)
* astral-plane text (emoji, math alphanumerics) and combining accents
* degenerate shapes: empty, null, whitespace-only, single-word,
  all-same-word (the ``ln(n) - n·ln(n)/n`` signed-zero knife edge)

Plus a slice of the ordinary sf0.001 corpus so corpus-level gates
(LM fits, n-gram tops, quantiles) keep realistic mass.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry_mod
from tests.parity_util import assert_frames_match

SRC_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]

ADVERSARIAL_TEXTS: list[str | None] = [
    None,                                    # null text
    "",                                      # empty
    "   ",                                   # spaces only
    "\t\n\x0b\f\r ",                         # all six whitespace chars, nothing else
    "\x0bword\x0b",                          # vertical-tab edges
    "a\x0bb c\td\ne f\rg h\fi j",            # every separator once
    "crlf\r\nline\r\nendings\r\n",           # CRLF runs
    " leading  and   trailing    ",          # ragged runs + edges
    "x",                                     # single word
    "x y",                                   # two words
    "word word word word word",              # all-same-word: entropy == ±ulp of 0
    ("repeat " * 30).strip(),                # LONG all-same-word (passes min-word gates)
    " nbsp bonded ",          # NBSP is NOT whitespace (either engine)
    "ideo　graphic　space",          # U+3000 ideographic space
    "nelseparatedchars",         # U+0085 NEL
    "zero​width and ﻿bom marked",  # ZWSP / BOM inside words
    "ctrl\x1cseps\x1dhere\x1eand\x1fthere",  # FS GS RS US — not whitespace
    "del\x7fchar bell\x07ring nul\x00byte",  # DEL, BEL, NUL inside words
    "emoji \U0001f642 and \U0001d518\U0001d52b astral words",
    "combining é accents über naivë",
    "MiXeD CaSe DUPLICATE mixed case duplicate",
    "1.5 -0.0 0.0 3e9 numbers … ... ### symbols",
]


def _fuzz_texts(n: int = 64, seed: int = 0x5F5) -> list[str]:
    """Deterministic seeded random content over the divergence alphabet —
    the hand-picked cases above cover the KNOWN candidates; this section
    samples the space between them (random mixes of controls, whitespace
    runs, lookalikes, combining marks, CJK, emoji, unassigned astral
    codepoints) so a word-split / float-edge divergence the driver's next
    corpus rotation would hit has a chance to surface here first. Seeded
    (never ``random`` module state) — every run builds the identical
    corpus. Surrogate range excluded (not UTF-8-encodable)."""
    import random

    rng = random.Random(seed)
    ws = [" ", "\t", "\n", "\x0b", "\f", "\r", "\r\n"]
    pools = [
        [chr(c) for c in range(0x20, 0x7F)],                       # ASCII
        [chr(c) for c in range(0x00, 0x20)] + ["\x7f"],            # controls
        ["\u00a0", "\u3000", "\u0085", "\u200b", "\u200d",
         "\ufeff", "\u2007", "\u202f"],                   # lookalikes
        [chr(c) for c in range(0x00C0, 0x0250)],                   # latin ext
        [chr(c) for c in range(0x0300, 0x0370)],                   # combining
        [chr(c) for c in range(0x4E00, 0x4E80)],                   # CJK
        [chr(rng.randrange(0x1F300, 0x1F650)) for _ in range(32)], # emoji
        [chr(rng.randrange(0x10000, 0x10FFF)) for _ in range(32)], # astral
    ]
    out = []
    for _ in range(n):
        words = [
            "".join(
                rng.choice(pools[rng.randrange(len(pools))])
                for _ in range(rng.randrange(1, 9))
            )
            for _ in range(rng.randrange(0, 25))
        ]
        runs = [
            "".join(rng.choice(ws) for _ in range(rng.randrange(1, 4)))
            for _ in range(len(words) + 1)
        ]
        s = runs[0] + "".join(w + r for w, r in zip(words, runs[1:]))
        out.append(s if rng.random() < 0.5 else s.strip())
    return out


# default seed is FIXED (CI must be deterministic); ADV_FUZZ_SEED lets a
# soak run probe extra corpora: for s in 1 2 3; do
#   ADV_FUZZ_SEED=$s pytest tests/test_adversarial_parity.py -q; done
ADVERSARIAL_TEXTS += _fuzz_texts(seed=int(os.environ.get("ADV_FUZZ_SEED", str(0x5F5)), 0))


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    """A full sf-layout dir whose documents table is the planted corpus."""
    d = tmp_path_factory.mktemp("adversarial_sf")
    for t in TABLES:
        if t != "documents":
            shutil.copy(os.path.join(SRC_DIR, f"{t}.parquet"), d / f"{t}.parquet")

    base = pq.read_table(os.path.join(SRC_DIR, "documents.parquet"))
    cols = {name: base.column(name).to_pylist() for name in base.column_names}
    keep = 40  # ordinary docs for corpus-level mass
    langs = cols["lang"][:keep] or ["en"]
    sources = cols["source"][:keep] or ["src0"]

    doc_id, text, lang, source, n_chars = (
        cols["doc_id"][:keep],
        cols["text"][:keep],
        cols["lang"][:keep],
        cols["source"][:keep],
        cols["n_chars"][:keep],
    )
    next_id = max(doc_id) + 1
    for i, t in enumerate(ADVERSARIAL_TEXTS):
        doc_id.append(next_id + i)
        text.append(t)
        lang.append(langs[i % len(langs)])
        source.append(sources[i % len(sources)])
        n_chars.append(len(t) if t is not None else 0)

    table = pa.table(
        {
            "doc_id": pa.array(doc_id, pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array(source, pa.string()),
            "n_chars": pa.array(n_chars, pa.int64()),
        }
    )
    pq.write_table(table, d / "documents.parquet")
    return str(d)


@pytest.fixture(scope="module")
def adv_duck(adv_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{adv_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def _documents_only_gates() -> list[str]:
    """Oracle gates whose SQL touches no table beyond ``documents`` — the
    word-split / text-stat surface the adversarial corpus exercises."""
    import re

    others = [t for t in TABLES if t != "documents"]
    out = []
    for name, sql in entry_mod.oracle_sql().items():
        low = sql.lower()
        if any(re.search(rf"\b(from|join)\s+{t}\b", low) for t in others):
            continue
        if re.search(r"\b(from|join)\s+documents\b", low):
            out.append(name)
    return sorted(out)


GATES = _documents_only_gates()


def test_gate_inventory_is_substantial():
    """The documents-only surface should cover the whole curation family —
    if this shrinks, the adversarial net has a hole."""
    assert len(GATES) >= 30, GATES
    for must in (
        "token_entropy", "chunk_dedup", "curation_pipeline", "gopher_quality",
        "repetition_stats", "dedup_lines", "top_ngrams", "pack_sequences",
        "lm_quality", "classifier_quality", "dsir_scores", "substr_dedup",
    ):
        assert must in GATES, f"{must} missing from documents-only gates"


@pytest.mark.parametrize("name", GATES)
def test_gate_survives_adversarial_corpus(spark, adv_duck, adv_dir, name):
    q = entry_mod.queries()[name]
    spark_pdf = q(spark, adv_dir).toPandas()
    duck_pdf = adv_duck.execute(entry_mod.oracle_sql()[name]).df()
    assert_frames_match(name, spark_pdf, duck_pdf)


def test_perplexity_gate_on_empty_corpus(spark, tmp_path):
    """An empty upstream has no order statistic to cut at: the gate returns
    the empty labelled frame, as its oracle does, instead of crashing."""
    base = pq.read_table(os.path.join(SRC_DIR, "documents.parquet"))
    pq.write_table(base.slice(0, 0), tmp_path / "documents.parquet")
    got = entry_mod.queries()["perplexity_buckets"](spark, str(tmp_path)).toPandas()
    assert list(got.columns) == ["doc_id", "n_words", "cross_entropy", "bucket"]
    assert len(got) == 0
    con = duckdb.connect()
    con.execute(
        "create view documents as select * from "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    assert len(con.execute(entry_mod.oracle_sql()["perplexity_buckets"]).df()) == 0
    con.close()
