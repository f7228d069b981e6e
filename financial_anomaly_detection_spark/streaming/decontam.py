"""Streaming decontamination gate: flag arriving training documents
whose winnowed fingerprints collide with a STATIC benchmark set — the
streaming companion to the batch ``decontam_shared_span`` query and
the inverse of ``streaming/neardup.py``'s corpus-so-far index:

  * near-dup index: the REFERENCE SET GROWS, each doc joins
    against everything seen before it;
  * decontam gate: the reference set is FIXED (the benchmark suite),
    so the right shape is STATELESS — the benchmark fingerprint set
    broadcasts to every worker and each micro-batch flags its docs
    with zero shuffle and zero state.

Fingerprint math (winnowing, Schleimer/Wilkerson/Aiken 2003), shared
bit-exactly by the python kernel here, the Spark column path, and the
DuckDB oracle of the ``stream_decontam_replay`` query:

  tokens  = split(trim(text), '\\s+');  positional 8-gram g_i
  h_i     = int(md5(g_i)[:8 hex], 16)        (32-bit md5 prefix)
  fp set  = { min(h_i..h_{i+w-1}) : full windows of w=4 positions }

The winnowing guarantee gives the gate's recall contract: any shared
token span of >= n + w - 1 = 11 tokens between a training doc and a
benchmark doc forces a shared fingerprint VALUE, so every doc that
``decontam_shared_span`` would report (spans >= 12) is flagged here.
Collisions on shorter overlaps are possible (this is a candidate
GATE, not a span measurement) — flagged docs route to the exact
span-alignment path, the standard two-tier decontamination layout.

At 100 TB: benchmark suites are millions of fingerprints at most (a
few MB as a python frozenset / broadcast variable); the gate is
embarrassingly parallel map work on the stream.
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

N_GRAM = 8
WINNOW_W = 4

# ASCII \s + space-only trim: mirror Java-regex/RE2 semantics exactly
# (see streaming/neardup.py — Python's unicode \s and str.strip()
# would desynchronize the three engines on exotic whitespace)
_WS = re.compile(r"\s+", re.ASCII)

_OUT_SCHEMA = "doc_id long, n_fps long, n_hits long, contaminated boolean"


def winnow_fingerprints(text: str, n: int = N_GRAM, w: int = WINNOW_W) -> set[int]:
    """Winnowed fingerprint set of a document — window-min of the
    32-bit md5 gram hashes over full windows of ``w`` positions.
    Documents with fewer than n + w - 1 tokens have no full window and
    return an empty set (they cannot contain a flaggable span)."""
    toks = _WS.split(text.strip(" "))
    if len(toks) < n + w - 1:
        return set()
    hashes = [
        int(hashlib.md5(" ".join(toks[i : i + n]).encode()).hexdigest()[:8], 16)
        for i in range(len(toks) - n + 1)
    ]
    return {min(hashes[i : i + w]) for i in range(len(hashes) - w + 1)}


def benchmark_fingerprint_set(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = N_GRAM,
    w: int = WINNOW_W,
) -> frozenset[int]:
    """Collect the benchmark side's fingerprint union driver-side.

    Benchmark suites are bounded (they are hand-curated eval sets), so
    the collect is O(|benchmark|) by contract — the same bounded-side
    assumption every broadcast join makes. The parquet scan prunes to
    the two needed columns."""
    rows = df.select(F.col(id_col), F.col(text_col)).collect()
    fps: set[int] = set()
    for r in rows:
        if r[text_col] is not None:
            fps |= winnow_fingerprints(str(r[text_col]), n, w)
    return frozenset(fps)


def flag_contaminated(
    df: DataFrame,
    bench_fps: frozenset[int],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = N_GRAM,
    w: int = WINNOW_W,
) -> DataFrame:
    """Per-doc contamination flags via one stateless Arrow stage —
    works identically on batch and streaming frames (the streaming
    gate IS this function applied to a readStream frame). ``bench_fps``
    rides to the workers inside the serialized closure (a broadcast
    in Spark's task-serialization sense; wrap in ``sc.broadcast`` at
    the call site if the set grows to many MB)."""

    def gate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nfps, nhits, flags = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                fps = winnow_fingerprints(str(text), n, w)
                hits = len(fps & bench_fps)
                ids.append(int(doc_id))
                nfps.append(len(fps))
                nhits.append(hits)
                flags.append(hits > 0)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_fps": nfps,
                    "n_hits": nhits,
                    "contaminated": flags,
                }
            )

    out = df.select(F.col(id_col), F.col(text_col))
    if not df.isStreaming:
        from ..operators.partitioning import spread_narrow

        out = spread_narrow(out)
    return out.mapInPandas(gate, schema=_OUT_SCHEMA)
