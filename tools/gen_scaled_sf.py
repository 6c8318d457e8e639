#!/usr/bin/env python
"""Generate a k-times scaled copy of an sf dir for SCALE-EVIDENCE timing
sweeps (VERDICT r15 item 8: demonstrate the checkpoint/fixpoint wins as
wall-clock at a larger SF, not just plan shape).

This is NOT a correctness fixture (no oracle is run against it) and it is
never read by any query path — it exists so old-vs-new code can be timed
on the SAME bigger input.  Content is varied per copy so pairwise
structure scales LINEARLY instead of creating k-fold exact-duplicate
clusters (which would send the dedup pair joins quadratic in k and
measure a blowup no real corpus has):

- documents: per copy i>0, every whitespace token gets the suffix
  "_" + str(i) (the separator keeps "a1" + "2" apart from "a" + "12")
  — an injective per-token rename, so within-copy Jaccard/shingle
  structure is isomorphic to the base corpus while cross-copy documents
  share zero shingles (no cross-copy verified pairs).  n_chars is
  recomputed (it must equal length(text); d04 buckets on it).
- embeddings: per copy i, dimensions are cyclically rotated by (i*7)%64
  (distinct for every copy only while k <= 64, so k is capped there)
  — rotation preserves every within-copy dot product/cosine exactly,
  while cross-copy cosines stay near-orthogonal-random.  vec_id offset
  is a multiple of CENTROID_MOD*S10_BATCH_MOD*PQ_CODE_MOD (61*5*37) so
  each copy's centroid/batch/codeword membership pattern matches the
  base corpus.
- events: event_id/user_id offsets per copy.  The r05 parent forest
  (u -> u//2) then contains chains of depth ~log2(k*1M) — deeper than
  the base, which is exactly what the O(log d) closure claim needs.
- lineitem: l_orderkey offset per copy (scale_probe's scheme); dims and
  orders are copied verbatim (dims grow sublinearly in any warehouse).

Deterministic: pure arithmetic on the base tables, no RNG, no clock.

Usage: python tools/gen_scaled_sf.py [--k 10] [--base /root/testdata/sf0.1] out_dir
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DOC_OFFSET = 10_000_000
VEC_OFFSET = 61 * 5 * 37 * 1000  # 11,285,000: preserves all % patterns
EVENT_OFFSET = 100_000_000
USER_OFFSET = 1_000_000
ORDER_OFFSET = 10_000_000


def _suffix_words(text: str, i: int) -> str:
    suf = "_" + str(i)
    return " ".join(w + suf for w in text.split(" "))


def scale_documents(base: pa.Table, k: int) -> pa.Table:
    copies = [base]
    texts = base.column("text").to_pylist()
    for i in range(1, k):
        new_texts = [t if t is None else _suffix_words(t, i) for t in texts]
        arr = pa.array(new_texts, type=pa.string())
        t = base.set_column(
            base.schema.get_field_index("doc_id"),
            "doc_id",
            pc.add(base.column("doc_id"), i * DOC_OFFSET),
        )
        t = t.set_column(t.schema.get_field_index("text"), "text", arr)
        n_chars = pa.array(
            [None if x is None else len(x) for x in new_texts], type=pa.int64()
        )
        t = t.set_column(t.schema.get_field_index("n_chars"), "n_chars", n_chars)
        copies.append(t)
    return pa.concat_tables(copies)


def scale_embeddings(base: pa.Table, k: int) -> pa.Table:
    # 7 is coprime to 64: copies 0..63 get 64 distinct rotations, copy 64
    # would repeat copy 0's
    if k > 64:
        raise ValueError(f"k={k}: the (i*7)%64 embedding rotation repeats beyond k=64")
    copies = [base]
    vecs = base.column("embedding").to_pylist()
    for i in range(1, k):
        rot = (i * 7) % 64
        rolled = [
            None if v is None else (v if len(v) != 64 else list(np.roll(v, rot)))
            for v in vecs
        ]
        arr = pa.array(rolled, type=base.schema.field("embedding").type)
        t = base.set_column(
            base.schema.get_field_index("vec_id"),
            "vec_id",
            pc.add(base.column("vec_id"), i * VEC_OFFSET),
        )
        t = t.set_column(t.schema.get_field_index("embedding"), "embedding", arr)
        copies.append(t)
    return pa.concat_tables(copies)


def scale_events(base: pa.Table, k: int) -> pa.Table:
    copies = [base]
    for i in range(1, k):
        t = base.set_column(
            base.schema.get_field_index("event_id"),
            "event_id",
            pc.add(base.column("event_id"), i * EVENT_OFFSET),
        )
        t = t.set_column(
            t.schema.get_field_index("user_id"),
            "user_id",
            pc.add(t.column("user_id"), i * USER_OFFSET),
        )
        copies.append(t)
    return pa.concat_tables(copies)


def scale_lineitem(base: pa.Table, k: int) -> pa.Table:
    copies = [base]
    for i in range(1, k):
        copies.append(
            base.set_column(
                base.schema.get_field_index("l_orderkey"),
                "l_orderkey",
                pc.add(base.column("l_orderkey"), i * ORDER_OFFSET),
            )
        )
    return pa.concat_tables(copies)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("out_dir")
    args = ap.parse_args()
    os.makedirs(args.out_dir, exist_ok=True)
    scalers = {
        "documents": scale_documents,
        "embeddings": scale_embeddings,
        "events": scale_events,
        "lineitem": scale_lineitem,
    }
    for name in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        base = pq.read_table(os.path.join(args.base, f"{name}.parquet"))
        out = scalers[name](base, args.k) if name in scalers else base
        # several row groups so the scan parallelizes like real layout
        pq.write_table(
            out,
            os.path.join(args.out_dir, f"{name}.parquet"),
            row_group_size=max(1, out.num_rows // 32),
        )
        print(f"{name}: {base.num_rows} -> {out.num_rows} rows")


if __name__ == "__main__":
    main()
