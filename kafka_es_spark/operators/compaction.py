"""Index compaction — the ES force-merge analogue (segment merge behind the
reference's BulkAction.kt delete/index ops, which the sink delegates to ES).

A long-running stream accretes one ``postings/shard=epoch-<n>`` per
micro-batch plus per-epoch docmap/range_dls/term_stats partials; queries
stay EXACT over any number of units, but after 10⁴ epochs the index serves
from 10⁴ small files and pending delete tombstones pile up in ``_deletes/``
with stats frozen at build time. ``compact_index`` folds everything back to
one base unit:

* postings: a stored unit row is a run in the index codec (absolute first
  id, then gaps, positions alongside), so units fold with the build's own
  encoder — ``spimi.merge_units``: one unit-row shuffle by (term, seg),
  the shared vectorized merge kernel drops tombstoned ids (with their
  position slices) and re-encodes ONE row per (term, seg). Memory stays
  bounded: a (term, seg) group is ≤ 2^seg_bits postings by construction,
  same as the build. Buckets are recomputed by ``spimi.write_units``
  under the current scheme, so a mixed-scheme index
  (stats.n_term_buckets == None) comes out prunable again.
* docmap: union of epoch partitions minus tombstones → ``epoch=base``.
* range_dls: per-seg concatenation of unit rows → one row per seg. Dead
  ids KEEP their dl slots — the format-2 contiguity contract indexes dl
  arrays by dense id, and dead slots cost ~1 byte each until a full
  rebuild re-assigns ids.
* term_stats: recomputed from the merged segment rows → ``unit=base``.
* stats.json: n_docs/avgdl/total_tokens now reflect the LIVE corpus (the
  point where ES updates stats too: at merge, not at delete).
* manifest: the ``docmap`` entry is rewritten with live docs/tokens plus
  ``docs_allocated`` (= every id ever assigned, dead included) and the
  folded ``epoch-*`` entries are dropped — future ``append_epoch`` calls
  derive their doc-id base from ALLOCATED ids, so compaction can never
  cause an id collision with a dead slot.
* ``_deletes/`` is cleared (the tombstones are now physical).

Swap protocol: every relation is fully written to ``<name>.new`` first;
the swap itself is two renames per relation (``X``→``X.old``,
``X.new``→``X``). That window is NOT atomic for concurrent readers —
compaction requires quiescing Searchers, like a Lucene force-merge
requires a commit point. ``recover_swap_dirs`` (called by every Searcher
init) repairs a crash inside the window: a missing ``X`` with ``X.old``
present is restored, dangling ``*.new`` garbage is removed.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from kafka_es_spark.functions import codecs
from kafka_es_spark.operators import spimi
from kafka_es_spark.operators.deletes import clear_tombstones, read_tombstone_ids
from kafka_es_spark.plans.manifest import Manifest
from kafka_es_spark.session import local_frame

_SWAP_DIRS = ("postings", "docmap", "range_dls", "term_stats")


def recover_swap_dirs(index_dir: str) -> list[str]:
    """Repair a crash inside a compaction swap window: restore any relation
    whose canonical dir vanished mid-swap (``X.old`` still present) and
    drop half-written ``X.new`` leftovers. Idempotent; returns the actions
    taken (for logs/tests)."""
    actions = []
    for name in _SWAP_DIRS:
        cur = os.path.join(index_dir, name)
        old = cur + ".old"
        new = cur + ".new"
        if not os.path.exists(cur) and os.path.exists(old):
            os.rename(old, cur)
            actions.append(f"restored {name} from .old")
        if os.path.exists(new):
            shutil.rmtree(new, ignore_errors=True)
            actions.append(f"dropped incomplete {name}.new")
    return actions


def _swap_in(index_dir: str, name: str) -> None:
    cur = os.path.join(index_dir, name)
    old = cur + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(cur):
        os.rename(cur, old)
    os.rename(cur + ".new", cur)
    shutil.rmtree(old, ignore_errors=True)


def compact_index(
    spark: SparkSession,
    index_dir: str,
    n_term_buckets: int | None = None,
) -> dict:
    """Merge all build/epoch units into one base unit, applying pending
    tombstones (see module docstring). Returns counters. Quiesce readers
    first; a crash mid-swap is repaired by ``recover_swap_dirs``."""
    from kafka_es_spark.plans.build_index import (
        BUCKET_SCHEME, check_format, load_stats,
    )

    t0 = time.time()
    recover_swap_dirs(index_dir)
    stats = load_stats(index_dir)
    check_format(index_dir, stats)
    codec = stats.get("codec", "varint")
    if n_term_buckets is None:
        n_term_buckets = int(stats.get("n_term_buckets") or 8)
    dead = read_tombstone_ids(spark, index_dir)
    dead_arr = (
        np.fromiter(dead, dtype=np.int64, count=len(dead))
        if dead
        else np.empty(0, dtype=np.int64)
    )

    # --- postings: stored rows ARE runs in the index codec (absolute first
    # id, then gaps, positions alongside), so the build's merge kernel
    # folds them: one (term, seg) shuffle, tombstoned docs dropped with
    # their position slices, one row per surviving (term, seg) group.
    runs = spark.read.parquet(os.path.join(index_dir, "postings")).select(
        "term", "seg", "first_docid", F.col("df_seg").alias("n"),
        F.col("docs_blob").alias("ids_blob"), "tfs_blob", "pos_blob",
    )
    spimi.write_units(
        spimi.merge_units(
            runs, spimi.UNIT_SCHEMA, codec=codec, run_codec=codec, dead=dead_arr,
        ),
        n_term_buckets,
        os.path.join(index_dir, "postings.new", "shard=base"),
    )

    # --- docmap: drop tombstoned rows, fold epochs into epoch=base --------
    # stored fields (ES doc-values analogue) ride along — the recorded
    # store_fields list is the docmap schema contract
    dm = spark.read.parquet(os.path.join(index_dir, "docmap")).select(
        "doc_id", "url", "dl", *tuple(stats.get("store_fields") or ())
    )
    if dead:
        tdf = local_frame(
            spark, [(int(x),) for x in sorted(dead)], "doc_id long"
        )
        dm = dm.join(F.broadcast(tdf), "doc_id", "left_anti")
    dm.write.mode("overwrite").parquet(
        os.path.join(index_dir, "docmap.new", "epoch=base")
    )

    # --- range_dls: concatenate unit rows per seg (dead slots retained —
    # dense-id contiguity contract) ----------------------------------------
    rd = spark.read.parquet(os.path.join(index_dir, "range_dls")).select(
        "seg", "first_docid", "n", "dls_blob"
    )

    def fold_seg(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        base, arr = spimi.decode_range_dls(pdf.to_dict("records"))
        return pd.DataFrame(
            {
                "seg": [int(key[0])],
                "first_docid": [base],
                "n": [int(arr.size)],
                "dls_blob": [codecs.varint_encode(arr.astype(np.uint64))],
            }
        )

    rd.groupBy("seg").applyInPandas(fold_seg, spimi.RANGE_DLS_SCHEMA).write.mode(
        "overwrite"
    ).parquet(os.path.join(index_dir, "range_dls.new", "epoch=base"))

    # --- term_stats from the merged segment rows --------------------------
    new_segs = spark.read.parquet(os.path.join(index_dir, "postings.new"))
    (
        new_segs.groupBy("term")
        .agg(F.sum("df_seg").alias("df"), F.sum("cf_seg").alias("cf"))
        .write.mode("overwrite")
        .parquet(os.path.join(index_dir, "term_stats.new", "unit=base"))
    )

    # --- live-corpus stats + counters (from the .new data, pre-swap) ------
    live = spark.read.parquet(os.path.join(index_dir, "docmap.new")).agg(
        F.count("*").alias("n"), F.sum("dl").alias("s")
    ).collect()[0]
    live_docs, live_tokens = int(live["n"]), int(live["s"] or 0)
    c = new_segs.agg(
        F.count("*").alias("segments"), F.sum("df_seg").alias("postings")
    ).collect()[0]

    man = Manifest(index_dir)
    units = [
        e for e in man.entries()
        if e["name"] == "docmap" or e["name"].startswith("epoch-")
    ]
    allocated = sum(
        int(e.get("docs_allocated", e.get("docs", 0))) for e in units
    )

    # --- swap (quiesced window; recover_swap_dirs repairs a crash here) ---
    for name in _SWAP_DIRS:
        _swap_in(index_dir, name)

    new_stats = dict(stats)
    new_stats.update(
        {
            "n_docs": live_docs,
            "avgdl": (live_tokens / live_docs) if live_docs else 0.0,
            "total_tokens": live_tokens,
            "n_term_buckets": n_term_buckets,
            "bucket_scheme": BUCKET_SCHEME,
        }
    )
    with open(os.path.join(index_dir, "stats.json"), "w") as f:
        json.dump(new_stats, f)

    # manifest: ONE atomic commit absorbs the folded epochs into the base
    # entry — docs/tokens are the LIVE corpus (stats), docs_allocated is
    # every id ever assigned (dead included: the next epoch's id base), and
    # folded_epochs names the absorbed units so (a) a crash before the
    # cleanup below can never double-count them into the base and (b) a
    # replay of a folded epoch stays a no-op even after its entry file is
    # gone (append_epoch consults this list).
    folded = sorted(
        e["name"] for e in units if e["name"].startswith("epoch-")
    ) + [f for e in units for f in e.get("folded_epochs", [])]
    counters = {
        "docs": live_docs,
        "tokens": live_tokens,
        "docs_allocated": allocated,
        "segments": int(c["segments"] or 0),
        "postings": int(c["postings"] or 0),
        "tombstones_applied": len(dead),
        "elapsed_sec": time.time() - t0,
    }
    man.commit("docmap", {**counters, "folded_epochs": sorted(set(folded))})
    for e in units:  # cosmetic cleanup; folded_epochs already excludes them
        if e["name"].startswith("epoch-"):
            os.remove(os.path.join(index_dir, "_manifest", f'{e["name"]}.json'))
    man.commit(f"compact-{int(t0)}", {"elapsed_sec": time.time() - t0})
    clear_tombstones(index_dir)
    return counters


def should_compact(
    spark: SparkSession,
    index_dir: str,
    max_units: int = 64,
    max_tombstones: int = 1_000_000,
) -> bool:
    """The merge-policy trigger — the decision ES's TieredMergePolicy makes
    continuously, exposed as one cheap predicate: compact when the index
    serves from ≥ ``max_units`` epoch units (per-query metadata and
    cursor-init concatenation cost grow with unit count) or carries ≥
    ``max_tombstones`` pending deletes (excluded-id set size; stats drift
    from the live corpus). Reads only the manifest entry list and the tiny
    ``_deletes/`` relation — safe to call once per micro-batch."""
    man = Manifest(index_dir)
    units = sum(
        1 for e in man.entries() if e["name"].startswith("epoch-")
    )
    if units >= int(max_units):
        return True
    return len(read_tombstone_ids(spark, index_dir)) >= int(max_tombstones)
