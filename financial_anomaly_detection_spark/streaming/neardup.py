"""MinHash near-dup band collisions, replayed bucket by bucket: the
LSH banding structure of the batch ``minhash_band_pairs_md5`` query,
computed by a Python signature kernel and one bounded per-bucket replay
(``replay_bucket``). The registry query ``stream_neardup_replay``
checks it against the DuckDB oracle.

Hash math is BIT-IDENTICAL to the batch/DuckDB md5 family
(queries.py ``_md5_minhash_sigs`` / ``_MINHASH_SIG_SQL``):

  tokens   = split(trim(text), '\\s+')
  shingles = distinct word 3-grams, or [trim(text)] when < 3 tokens
  sig_i    = min over shingles of int(md5(sh || ':' || i)[:8 hex], 16)
  bands    = 4 bands of 4 sigs; band_key = '-'-joined decimal sigs

so the replayed candidate pairs equal the batch banding query EXACTLY.

Bounded work by construction: each (band_idx, band_key) bucket keeps
a doc_id list CAPPED at ``cap`` entries plus an overflow counter. A
document arriving at a full bucket still emits collisions against
every stored member (precision is never lost) but is not stored — a
hot bucket loses RECALL for pairs among its overflow docs, honestly
counted as overflow. At the default cap this binds only on degenerate
buckets (e.g. millions of empty documents sharing the fallback
shingle), which is exactly where O(bucket²) pair emission must be
bounded anyway at 100 TB. A doc_id already stored in the bucket emits
nothing, so a repeated id cannot duplicate pairs among stored members.
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

N_SIGS = 16
N_BANDS = 4
ROWS_PER_BAND = 4
DEFAULT_CAP = 256

# ASCII \s to mirror Java-regex (Spark split) and RE2 (DuckDB
# string_split_regex) semantics — Python's default \s also matches
# unicode whitespace (NBSP, U+2028…), which the other two engines do
# not, and tri-engine hash parity is the whole point of this kernel.
_WS = re.compile(r"\s+", re.ASCII)


def _trim(text: str) -> str:
    """Spark/DuckDB ``trim``: leading/trailing ASCII SPACES only —
    Python's str.strip() also removes tabs/newlines/unicode
    whitespace, which would desynchronize the fallback shingle."""
    return text.strip(" ")

_BAND_SCHEMA = "doc_id long, band_idx int, band_key string"
_OUT_SCHEMA = "id_a long, id_b long, band_idx int"


def minhash_sigs(text: str, n_sigs: int = N_SIGS, n: int = 3) -> list[int]:
    """The md5-family MinHash signature vector — same values as the
    Spark column expression in queries._md5_minhash_sigs and the
    DuckDB _MINHASH_SIG_SQL (verified by the oracle hash gate)."""
    toks = _WS.split(_trim(text))
    if len(toks) >= n:
        shingles = list(
            dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))
        )
    else:
        shingles = [_trim(text)]
    sigs = [1 << 62] * n_sigs
    suffixes = [f":{i}".encode() for i in range(n_sigs)]
    for sh in shingles:
        base = hashlib.md5(sh.encode())
        for i, suf in enumerate(suffixes):
            h = base.copy()
            h.update(suf)
            v = int(h.hexdigest()[:8], 16)
            if v < sigs[i]:
                sigs[i] = v
    return sigs


def band_keys(sigs: list[int], n_bands: int = N_BANDS, rows: int = ROWS_PER_BAND) -> list[str]:
    """'-'-joined decimal band keys — the batch query's concat_ws."""
    return [
        "-".join(str(sigs[rows * b + j]) for j in range(rows)) for b in range(n_bands)
    ]


def explode_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = N_BANDS,
    rows: int = ROWS_PER_BAND,
) -> DataFrame:
    """(doc_id, band_idx, band_key) rows via one Arrow stage. NULL text
    rows are dropped (the batch query's md5(NULL)-is-NULL behavior)."""

    from ..operators.partitioning import spread_narrow

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bidx, bkey = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None or (isinstance(text, float) and pd.isna(text)):
                    continue
                for b, k in enumerate(band_keys(minhash_sigs(str(text)), n_bands, rows)):
                    ids.append(int(doc_id))
                    bidx.append(b)
                    bkey.append(k)
            yield pd.DataFrame({"doc_id": ids, "band_idx": bidx, "band_key": bkey})

    # spread_narrow widens the one-file parquet scan so the md5 sig
    # kernel runs on every core.
    return spread_narrow(df.select(F.col(id_col), F.col(text_col))).mapInPandas(
        gen, schema=_BAND_SCHEMA
    )


def replay_bucket(
    stored: list[int], arriving: list[int], cap: int
) -> tuple[list[tuple[int, int]], list[int], int]:
    """Pure bucket replay — the collision kernel of
    ``batch_band_collisions``. ``arriving`` must be in deterministic
    arrival order; returns (emitted pairs, new stored list, overflow
    increment)."""
    stored = list(stored)
    sset = set(stored)
    pairs: list[tuple[int, int]] = []
    overflow = 0
    for d in arriving:
        if d in sset:
            continue  # already indexed, nothing to emit
        for m in stored:
            pairs.append((d, m) if d < m else (m, d))
        if len(stored) < cap:
            stored.append(d)
            sset.add(d)
        else:
            overflow += 1
    return pairs, stored, overflow


def batch_band_collisions(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cap: int = DEFAULT_CAP,
    n_bands: int = N_BANDS,
    rows: int = ROWS_PER_BAND,
) -> DataFrame:
    """Every bucket replayed through ``replay_bucket`` from empty
    state with docs in doc_id order — equals (cap permitting) the
    batch banding query. One shuffle on the band key; pair work is bucket-local and
    cap-bounded, never all-pairs.

    Singleton buckets are dropped JVM-side BEFORE the Python stage: a
    one-member bucket emits nothing and its state affects nothing, so
    the output is identical — and at any scale the vast majority of
    band buckets are singletons, so replaying them through pandas
    per-group overhead is pure waste (measured at sf0.1: ~20k buckets,
    a handful multi-member; 28 s -> 6.6 s steady together with the
    sig-stage pin below)."""
    # Pin the sig stage: it feeds BOTH the bucket-size agg and the
    # semi-join side — unpinned, the md5 kernel runs twice.
    bands = explode_bands(df, id_col, text_col, n_bands, rows).localCheckpoint(
        eager=True
    )
    multi = (
        bands.groupBy("band_idx", "band_key")
        .count()
        .filter(F.col("count") >= 2)
        .select("band_idx", "band_key")
    )
    bands = bands.join(multi, ["band_idx", "band_key"], "left_semi")

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        arriving = sorted(int(x) for x in pdf["doc_id"])
        pairs, _, _ = replay_bucket([], arriving, cap)
        return pd.DataFrame(
            {
                "id_a": [p[0] for p in pairs],
                "id_b": [p[1] for p in pairs],
                "band_idx": [int(pdf["band_idx"].iloc[0])] * len(pairs),
            }
        )

    # Many tiny groups (the at-scale regime: most multi-member buckets
    # hold 2-5 docs): per-group applyInPandas overhead dominated the
    # stage (x10 drill: 15.1 s -> 1.2 s, identical pair set), so the
    # same per-bucket replay runs through one sorted mapInPandas stage.
    from ..operators.partitioning import sorted_group_map

    return sorted_group_map(bands, ["band_idx", "band_key"], replay, _OUT_SCHEMA)
