"""The LLM training-data pipeline steps over the ``documents`` corpus.

The corpus (exact copies, near copies and originals, see ``datagen``) is
CTASed into a lake table during set-up and read once into a lazy
DataFrame; the steps make no lakehouse or SQL call. Each step is one
operation:

- ``exact``: ``dedup_exact`` on normalized text;
- ``minhash``: ``minhash_lsh_candidates`` verified at Jaccard 0.5;
- ``jaccard``: ``jaccard_near_duplicates`` at 0.5 (exact);
- ``quality``: ``add_quality_signals``;
- ``decontam``: ``remove_contaminated`` against the held-out slice
  (every 97th document, as in the engine's registry).

Checks: exact, jaccard and quality against the registry's DuckDB oracles;
minhash pairs must be a subset of the exact pairs; the decontaminated
corpus against a DuckDB query built on the registry's overlap oracle.

``connected_components``/``dedup_survivors`` is left out: at about 7 s per
run (warm-up plus one call) it did not fit the benchmark's time budget.
"""

from __future__ import annotations

from harness import Op, duck_digest, mean, rows_digest

HELD_OUT = 97  # doc_id % 97 == 0 is the benchmark slice

QUALITY_COLS = ["doc_id", "n_chars_calc", "n_words", "avg_word_len", "punct_ratio",
                "digit_ratio", "stopword_ratio", "quality_score"]


def expected_answers(con) -> dict:
    """Every answer the steps are checked by, from DuckDB (``con`` has a
    ``documents`` view over the same parquet the corpus came from)."""
    from pg_lakehouse_spark.workload import REGISTRY

    pairs = REGISTRY["dedup_jaccard_pairs"].oracle
    decontam = REGISTRY["decontaminate_overlap"].oracle
    out = {
        "exact": duck_digest(con, REGISTRY["dedup_exact_documents"].oracle),
        "jaccard": duck_digest(con, pairs),
        "pairs": con.execute(pairs).fetchall(),
        "quality": duck_digest(con, REGISTRY["text_quality_signals"].oracle),
        "decontam": duck_digest(
            con,
            f"SELECT * FROM documents WHERE doc_id % {HELD_OUT} <> 0 AND doc_id NOT IN "
            "(SELECT doc_id FROM (" + decontam + ") o)",
        ),
    }
    return out


class Pipeline:
    """The five pipeline operations over ``docs``, checked against
    ``expected`` (from :func:`expected_answers`)."""

    def __init__(self, b, docs, expected: dict):
        self.b, self.docs, self.exp = b, docs, expected
        self.exact_pairs = {(a, c) for a, c, _j in expected["pairs"]}
        self.minhash_pairs: list[int] = []

    def ops(self) -> list[Op]:
        from pyspark.sql import functions as F

        from pg_lakehouse_spark.llm.decontaminate import remove_contaminated
        from pg_lakehouse_spark.llm.dedup import (
            dedup_exact,
            jaccard_near_duplicates,
            minhash_lsh_candidates,
        )
        from pg_lakehouse_spark.llm.text import add_quality_signals

        docs, exp, tr = self.docs, self.exp, self.b.tracer
        held_out = docs.filter(F.col("doc_id") % HELD_OUT == 0).select("text")
        train = docs.filter(F.col("doc_id") % HELD_OUT != 0)
        key = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")

        def step(kind: str, build, check) -> Op:
            def run():
                with tr.span("llm." + kind):
                    df = build()
                    with tr.span("spark.exec"):
                        return df.columns, df.collect()
            return Op("llm:" + kind, run, check)

        def digest_is(name: str):
            def check(out):
                cols, rows = out
                if rows_digest(cols, rows) != exp[name]:
                    raise ValueError(f"{name}: {len(rows)} rows differ from DuckDB")
            return check

        def minhash_check(out):
            _cols, rows = out
            self.minhash_pairs.append(len(rows))
            extra = {(r["id1"], r["id2"]) for r in rows} - self.exact_pairs
            if extra:
                raise ValueError(f"minhash: {len(extra)} pairs are not exact-Jaccard pairs")

        def quality_check(out):
            cols, rows = out
            idx = [cols.index(c) for c in QUALITY_COLS]
            names = ["n_chars" if c == "n_chars_calc" else c for c in QUALITY_COLS]
            if rows_digest(names, ([r[i] for i in idx] for r in rows)) != exp["quality"]:
                raise ValueError(f"quality: {len(rows)} rows differ from DuckDB")

        return [
            step("exact", lambda: dedup_exact(docs, key, id_col="doc_id", keep="min")
                 .select("doc_id", "lang", "source"), digest_is("exact")),
            step("minhash", lambda: minhash_lsh_candidates(
                docs, id_col="doc_id", text_col="text", n=3, num_hashes=64, bands=16,
                verify_threshold=0.5), minhash_check),
            step("jaccard", lambda: jaccard_near_duplicates(
                docs, id_col="doc_id", text_col="text", n=3, threshold=0.5,
                max_shingle_df=None), digest_is("jaccard")),
            step("quality", lambda: add_quality_signals(docs, "text"), quality_check),
            step("decontam", lambda: remove_contaminated(
                train, held_out, n=3, min_overlap=2), digest_is("decontam")),
        ]

    def trace_counts(self) -> dict[str, float]:
        """Unverified LSH candidates, counted outside the loop: how much
        of the banding output the exact verification keeps."""
        from pg_lakehouse_spark.llm.dedup import minhash_lsh_candidates

        cand = len(minhash_lsh_candidates(
            self.docs, id_col="doc_id", text_col="text", n=3, num_hashes=64,
            bands=16, verify_threshold=None).collect())
        return {
            "llm.lsh_candidate_pairs": cand,
            "llm.lsh_precision": mean(self.minhash_pairs) / max(1, cand),
        }
