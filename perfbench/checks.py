"""Output checks for the query workloads.

Every headline line is checked once per run, on the untimed warm-up
pass, against a reference computed from the same generated inputs:

- catalog lines with an oracle, and the four bench-only extras (whose
  DuckDB twins the library exports beside them), by row count and the
  order-insensitive value key of ``tests/oracle_harness.py``;
- ``dedup_minhash_lsh`` against an exact Jaccard join done here with
  prefix filtering, because its O(n^2) DuckDB oracle takes minutes at
  sf0.1; the pairs it must find are the same;
- ``similarity_ann_lsh``, which is approximate and has no oracle, by
  checked invariants: schema, row count bounds, ranks, no self pairs and
  every score equal to the exact cosine of the pair.
"""

from __future__ import annotations

import math
import os
import sys
from collections import Counter

import numpy as np

ANN_COLUMNS = ["query_id", "neighbor_id", "cos_sim", "rank"]
ANN_K = 10


def _harness():
    """``normalize``/``frame_key`` from the repo's oracle harness."""
    tests = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    import oracle_harness

    return oracle_harness


def extra_oracles() -> dict[str, str]:
    from gus_spark.queries.dedup import DEDUP_EXACT_ORACLE
    from gus_spark.queries.text import (
        LANG_FINGERPRINT_ORACLE,
        REPETITION_PROFILE_ORACLE,
        TEXT_PROFILE_ORACLE,
    )

    return {
        "text_profile": TEXT_PROFILE_ORACLE,
        "text_lang_fingerprint": LANG_FINGERPRINT_ORACLE,
        "repetition_profile": REPETITION_PROFILE_ORACLE,
        "dedup_exact_representatives": DEDUP_EXACT_ORACLE,
    }


def shingles(text: str) -> set[str]:
    """Distinct word 3-grams (the words themselves under 3 words), as
    the DuckDB oracle of ``dedup_minhash_lsh`` builds them."""
    ws = text.strip().split()
    if len(ws) < 3:
        return set(ws)
    return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}


def jaccard_pairs(docs: list[tuple[int, str]], threshold: float):
    """Every pair (a < b) with exact shingle Jaccard >= threshold.

    Prefix filtering: order each set by global shingle frequency; two
    sets with Jaccard >= t share a shingle among the first
    |x| - ceil(t * |x|) + 1 of either, so only those are indexed."""
    sets = {d: shingles(t) for d, t in docs}
    freq = Counter(s for ss in sets.values() for s in ss)
    index: dict[str, list[int]] = {}
    out = []
    for d in sorted(sets, key=lambda k: (len(sets[k]), k)):
        ss = sets[d]
        ordered = sorted(ss, key=lambda s: (freq[s], s))
        prefix = ordered[: len(ss) - math.ceil(threshold * len(ss)) + 1]
        seen = set()
        for s in prefix:
            for other in index.get(s, ()):
                if other in seen:
                    continue
                seen.add(other)
                inter = len(ss & sets[other])
                jac = float(inter) / (len(ss) + len(sets[other]) - inter)
                if jac >= threshold:
                    out.append((min(d, other), max(d, other), jac))
            index.setdefault(s, []).append(d)
    return out


def ann_problems(pdf, vec_ids, vectors: np.ndarray) -> list[str]:
    """Invariant violations of an ANN top-k result (empty when fine)."""
    probs = []
    if list(pdf.columns) != ANN_COLUMNS:
        return [f"columns {list(pdf.columns)} != {ANN_COLUMNS}"]
    n = len(vec_ids)
    if not 0 < len(pdf) <= n * ANN_K:
        probs.append(f"{len(pdf)} rows, expected 1..{n * ANN_K}")
    pos = {v: i for i, v in enumerate(vec_ids)}
    q = pdf["query_id"].map(pos)
    nb = pdf["neighbor_id"].map(pos)
    if q.isna().any() or nb.isna().any():
        return probs + ["unknown vector id"]
    if (pdf["query_id"] == pdf["neighbor_id"]).any():
        probs.append("self pair")
    exact = np.einsum(
        "ij,ij->i", vectors[q.to_numpy(int)], vectors[nb.to_numpy(int)]
    )
    if not np.allclose(pdf["cos_sim"].to_numpy(float), exact, atol=1e-5):
        probs.append("cos_sim differs from the exact cosine")
    for _, g in pdf.sort_values(["query_id", "rank"]).groupby("query_id"):
        if list(g["rank"]) != list(range(1, len(g) + 1)):
            probs.append("ranks not 1..m")
            break
        if (np.diff(g["cos_sim"].to_numpy(float)) > 1e-9).any():
            probs.append("cos_sim not descending in rank")
            break
        if g["neighbor_id"].duplicated().any():
            probs.append("duplicate neighbor")
            break
    return probs


class OutputChecker:
    """Compares one query's collected output with its reference."""

    def __init__(self, sf_dir: str, catalog: dict):
        import duckdb

        self.catalog = catalog
        self.con = duckdb.connect()
        for name in os.listdir(sf_dir):
            if name.endswith(".parquet"):
                path = os.path.join(sf_dir, name)
                self.con.execute(
                    f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{path}'"
                )
        self.extras = extra_oracles()
        self.frame_key = _harness().frame_key

    def problem(self, name: str, pdf) -> str | None:
        """None if ``pdf`` is the right output of query ``name``."""
        import pandas as pd

        if name == "similarity_ann_lsh":
            emb = self.con.execute(
                "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
            ).df()
            vectors = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
            probs = ann_problems(pdf, list(emb["vec_id"]), vectors)
            return "; ".join(probs) or None
        if name == "dedup_minhash_lsh":
            from gus_spark.queries.dedup import JACCARD_THRESHOLD

            docs = self.con.execute(
                "SELECT doc_id, text FROM documents").fetchall()
            ref = pd.DataFrame(
                jaccard_pairs(docs, JACCARD_THRESHOLD),
                columns=["doc_a", "doc_b", "jaccard"],
            )
        else:
            spec = self.catalog.get(name)
            sql = spec.oracle if spec is not None else self.extras[name]
            ref = self.con.execute(sql).df()
        got_cols, got = self.frame_key(pdf)
        ref_cols, want = self.frame_key(ref)
        if got_cols != ref_cols:
            return f"columns {got_cols} != {ref_cols}"
        if len(got) != len(want):
            return f"{len(got)} rows != {len(want)}"
        if got != want:
            return "values differ"
        return None


_worker_checker: OutputChecker | None = None


def _init_worker(sf_dir: str) -> None:
    from gus_spark.queries import catalog

    global _worker_checker
    _worker_checker = OutputChecker(sf_dir, catalog())
    _worker_checker.con.execute("SET threads = 1")


def _check_one(item) -> tuple[str, str | None]:
    name, pdf = item
    try:
        return name, _worker_checker.problem(name, pdf)
    except Exception as exc:  # noqa: BLE001 - reported as a failed check
        return name, f"check raised {type(exc).__name__}: {exc}"


def check_outputs(sf_dir: str, outputs, processes: int):
    """[(name, problem or None)] for [(name, collected output)], checked
    in a pool of spawned processes, which have all exited on return."""
    import multiprocessing

    pool = multiprocessing.get_context("spawn").Pool(
        processes, initializer=_init_worker, initargs=(sf_dir,))
    try:
        results = pool.map(_check_one, outputs, chunksize=1)
        pool.close()
    finally:
        pool.terminate()
        pool.join()
    return results
