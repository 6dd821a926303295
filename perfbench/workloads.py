"""The benchmark's workloads: which registered query keys run, in which
order, and when cached work is thrown away. Why each workload exists is
recorded in BENCHMARK.json; perfbench/README.md maps its keys to layers.

``clear`` says how far cached work may be reused:
- ``"pass"``: intermediates cached by one key (``recommender.core._cached``
  and the other per-``sf_dir`` memos) are reused by later keys of the same
  pass, then dropped before the next pass;
- ``"key"``: dropped after every key, so no key reuses another's work.

A run makes ``round(seconds / PASS_SECONDS)`` passes, at least two, so
every run with the same ``--seconds`` makes the same number of passes
whatever the speed of the code under test.
"""

from __future__ import annotations

from dataclasses import dataclass

# Nominal length of one pass on 4 cores, cold and warm passes averaged.
PASS_SECONDS = 10.0


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]
    clear: str


WORKLOADS = {
    w.name: w
    for w in (
        # The paper's pipeline in pipeline order (ratings matrix, item
        # cosine, predictions from the top-k neighbours, the MapReduce-style
        # RDD job, the ALS fit), then a TPC-H aggregate and a multi-way join
        # over the same star. Almost no Python-worker or write work.
        Workload(
            name="cf_netflix",
            keys=(
                "r_ratings_matrix", "r_cosine_sim", "r_predict",
                "r_rdd_mapreduce", "r_als", "q_pricing_summary", "j_multiway",
            ),
            clear="pass",
        ),
        # LLM data prep: digest and SimHash dedup, vector top-k, PNG decode
        # and applyInPandas in Python workers; then the ingest side: an ORC
        # round trip, event sessions as a streaming micro-batch query and as
        # batch windows, and a cube. No recommender pair joins, and nothing
        # cached survives a key, so it bypasses any reuse that cf_netflix
        # shows.
        Workload(
            name="llm_dedup",
            keys=(
                "t_exact_dedup_digest", "t_simhash_pairs", "v_cosine_topk",
                "m_png_decode", "u_apply_in_pandas", "s_orc_roundtrip",
                "st_session", "w_sessionize", "a_cube",
            ),
            clear="key",
        ),
    )
}


def pass_count(seconds: int) -> int:
    return max(2, round(seconds / PASS_SECONDS))
