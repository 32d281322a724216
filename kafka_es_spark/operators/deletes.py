"""X9 — delete/update semantics (ES bulk Delete/Update/Index ops,
BulkAction.kt:55-102).

The reference routes actions to ES; ES applies last-write-wins per _id and
hides deleted docs from search until segment merge. Spark-first equivalents
(SURVEY.md §2.8 X9):

* ``latest_versions`` — upsert resolution at build time: the newest version
  per document key wins (index/create/update all collapse to this in a
  batch rebuild; real ingest is dominated by updates).
* ``apply_tombstones`` — deletes as an anti-join before scoring — a
  broadcast anti-join when the tombstone set is small (the common case),
  falling back to a shuffle anti-join (AQE decides via size stats).
* in-query exclusion lives in ``wand.Searcher.topk(exclude_doc_ids=…)`` —
  the live-docs-bitset analogue: tombstoned docs are skipped inside the
  scorer, corpus stats stay those of the built index (exactly ES's
  behavior between delete and segment merge).

Painless-script updates (BulkActionTests.kt:193-201): the common
``ctx._source`` subset compiles to Column expressions in
``operators.painless`` and plugs in via ``update_by_query(script=...)``
/ ``painless.script_update``; painless constructs outside that subset
(loops, defs, java interop) raise PainlessError (documented).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_es_spark.session import local_frame

# Pending tombstones are meant to be collected into the query closure
# (the live-docs-bitset analogue). Past this many the set is no longer
# "pending deletes since the last merge" — force a compaction instead of
# silently shipping a giant closure to every task.
MAX_PENDING_TOMBSTONES = 5_000_000


def tombstone_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "_deletes")


def add_tombstones(
    spark: SparkSession,
    index_dir: str,
    doc_ids=None,
    urls: DataFrame | None = None,
) -> int:
    """X9 delete — persist tombstones IN the index dataset (``_deletes/
    unit=*``, one unit per call): every Searcher opened afterwards excludes
    them automatically, so the "small pending set" contract is enforced by
    the format rather than by each caller (VERDICT r3 §next 7). ``doc_ids``
    is an iterable or a DataFrame with a doc_id column; ``urls`` (a
    DataFrame with a url column) resolves through the docmap. Returns the
    number of tombstones written. Cleared by compaction."""
    rels = []
    if doc_ids is not None:
        if isinstance(doc_ids, DataFrame):
            rels.append(doc_ids.select(F.col("doc_id").cast("long")))
        else:
            rels.append(
                local_frame(
                    spark, [(int(d),) for d in doc_ids], "doc_id long"
                )
            )
    if urls is not None:
        dm = spark.read.parquet(os.path.join(index_dir, "docmap"))
        rels.append(
            dm.join(F.broadcast(urls.select("url").distinct()), "url").select(
                F.col("doc_id").cast("long")
            )
        )
    if not rels:
        return 0
    rel = rels[0]
    for r in rels[1:]:
        rel = rel.unionByName(r)
    rel = rel.distinct()
    unit = f"unit={int(time.time() * 1000)}"
    out = os.path.join(tombstone_dir(index_dir), unit)
    rel.write.mode("overwrite").parquet(out)
    # count from the written footers (metadata-only) — recomputing rel
    # would re-run the whole matching plan a second time
    return spark.read.parquet(out).count()


def read_tombstone_ids(spark: SparkSession, index_dir: str) -> frozenset[int]:
    """All pending tombstoned doc_ids (empty set if none), read with
    pyarrow in one pass over the ``_deletes/`` units — no Spark job, so a
    Searcher open or a positional query pays nothing for them. Raises above
    MAX_PENDING_TOMBSTONES — at that point run compact_index."""
    import numpy as np
    import pyarrow.dataset as ds

    d = tombstone_dir(index_dir)
    if not os.path.isdir(d) or not any(
        n.startswith("unit=") for n in os.listdir(d)
    ):
        return frozenset()
    col = ds.dataset(d, format="parquet").to_table(columns=["doc_id"])["doc_id"]
    ids = np.unique(col.drop_null().to_numpy())
    if ids.size > MAX_PENDING_TOMBSTONES:
        raise ValueError(
            f"{ids.size} pending tombstones exceed MAX_PENDING_TOMBSTONES "
            f"({MAX_PENDING_TOMBSTONES}); run compaction.compact_index to "
            "fold deletes into the segments before querying"
        )
    return frozenset(ids.tolist())


def clear_tombstones(index_dir: str) -> None:
    import shutil

    shutil.rmtree(tombstone_dir(index_dir), ignore_errors=True)


def apply_tombstones(df: DataFrame, tombstones: DataFrame, key: str = "doc_id") -> DataFrame:
    """Remove rows whose ``key`` appears in the tombstone set (left_anti)."""
    return df.join(tombstones.select(key).distinct(), key, "left_anti")


def latest_versions(
    df: DataFrame, key: str = "url", version: str = "warc_ts"
) -> DataFrame:
    """Upsert resolution: keep the newest ``version`` row per ``key``
    (last-write-wins, the batch collapse of ES index/update semantics).
    One shuffle (window over key); deterministic under version ties via a
    content-hash tiebreak, so the survivor set is a pure function of the
    data, independent of partitioning."""
    tiebreak = F.xxhash64(F.struct(*[F.col(c) for c in df.columns]))
    w = Window.partitionBy(key).orderBy(F.col(version).desc(), tiebreak.asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def delete_by_query(
    spark: SparkSession,
    index_dir: str,
    query: str,
    mode: str = "or",
    min_should_match: int | None = None,
    must_not: str | None = None,
) -> int:
    """ES ``_delete_by_query``: resolve the matching doc set through the
    index in filter context (posting-list set algebra, no scoring — the
    same path as ``_count``) and persist it as tombstones. Every Searcher
    opened afterwards excludes the docs; corpus stats stay those of the
    built index until compaction folds the deletes in — exactly ES's
    delete-then-merge lifecycle. Returns the number of docs deleted.

    Scale: the matching set never touches the driver — it flows from the
    pruned postings scan straight into the tombstone parquet write; the
    in-memory pending-set bound is enforced at read time
    (MAX_PENDING_TOMBSTONES → compact_index)."""
    from kafka_es_spark.operators.wand import Searcher

    s = Searcher(spark, index_dir, cache=False)
    try:
        ids = s.matching_doc_ids(
            query, mode=mode, min_should_match=min_should_match,
            must_not=must_not,
        )
        return add_tombstones(spark, index_dir, doc_ids=ids)
    finally:
        s.close()


def update_by_query(
    spark: SparkSession,
    index_dir: str,
    query: str,
    set_fields: dict | None = None,
    mode: str = "or",
    min_should_match: int | None = None,
    must_not: str | None = None,
    script: str | None = None,
    script_params: dict | None = None,
) -> int:
    """ES ``_update_by_query``: rewrite the docmap's STORED field columns
    for every doc matching the query, either via literal ``set_fields``
    assignments or a painless-lite ``script`` (operators.painless — the
    compiled ``ctx._source`` subset, executed as Column expressions).
    Analyzed text is untouched — assigning to an indexed field would
    require reindexing those docs (use ``reindex``) — so only
    ``store_fields`` columns are assignable; anything else raises
    instead of silently diverging the docmap from the schema contract.
    ``ctx.op`` is rejected here: a script deciding deletes belongs to
    ``delete_by_query`` (tombstones), not a docmap rewrite.

    One doc_id-keyed join (matching ids × docmap) and one partitioned
    rewrite; the swap reuses compaction's crash-recoverable rename
    contract (readers quiesced for the two-rename window,
    ``recover_swap_dirs`` repairs a crash inside it). Returns the number
    of docs updated."""
    import json

    from kafka_es_spark.operators.compaction import _swap_in, recover_swap_dirs
    from kafka_es_spark.operators.wand import Searcher

    if (set_fields is None) == (script is None):
        raise ValueError(
            "update_by_query takes exactly one of set_fields / script"
        )
    plan = None
    if script is not None:
        from kafka_es_spark.operators.painless import PainlessError, ScriptPlan

        plan = ScriptPlan(script, script_params)
        if plan.sets_op:
            raise PainlessError(
                "update_by_query scripts cannot set ctx.op; use "
                "delete_by_query for scripted deletes"
            )
        assigned = set(plan.assigned_fields)
    else:
        assigned = set(set_fields)
    with open(os.path.join(index_dir, "stats.json")) as f:
        stored = set(json.load(f).get("store_fields", []))
    bad = sorted(assigned - stored)
    if bad:
        raise ValueError(
            f"update_by_query can only assign stored fields {sorted(stored)}; "
            f"{bad} are not in the index's store_fields contract (reindex to "
            "change analyzed text)"
        )
    recover_swap_dirs(index_dir)
    s = Searcher(spark, index_dir, cache=False)
    try:
        ids = s.matching_doc_ids(
            query, mode=mode, min_should_match=min_should_match,
            must_not=must_not,
        ).withColumn("_hit", F.lit(True))
        dm_dir = os.path.join(index_dir, "docmap")
        upd = s.docmap.join(ids, "doc_id", "left")
        if plan is not None:
            upd = plan.apply(upd, where=F.col("_hit"))
        else:
            for c, v in set_fields.items():
                upd = upd.withColumn(
                    c, F.when(F.col("_hit"), F.lit(v)).otherwise(F.col(c))
                )
        from pyspark.sql import Observation

        obs = Observation()
        upd = upd.observe(
            obs, F.count(F.when(F.col("_hit"), F.lit(1))).alias("n_updated")
        ).drop("_hit")
        tmp = dm_dir + ".new"
        upd.write.partitionBy("epoch").mode("overwrite").parquet(tmp)
        n = int(obs.get["n_updated"])
    finally:
        s.close()
    _swap_in(index_dir, "docmap")
    return n


MAX_SCRIPT_COMBOS = 200


def apply_script_actions(
    docs: DataFrame,
    actions: DataFrame,
    id_col: str = "url",
    seq_col: str = "seq",
    script_col: str = "script",
    params_col: str | None = "params",
) -> DataFrame:
    """ES bulk Update actions whose body is a SCRIPT
    (BulkActionTests.kt:193-201's ``{"script": {"source": ...,
    "params": {...}}}`` shape, the half of BulkAction.kt:55-102's
    Update op that apply_partial_updates doesn't cover): apply each
    scripted action to its target doc, in ``seq`` order per doc.

    ``actions`` rows: (id, seq, script source string, optional params
    as a JSON TEXT column — text, not MapType, so the distinct/equality
    grouping below stays plain column algebra). Each distinct
    (seq, script, params) combination compiles ONCE (painless-lite →
    Column expressions) and applies as a projection gated on a
    broadcast id set — so the corpus is traversed once per combo, all
    JVM-side. Bounded by MAX_SCRIPT_COMBOS distinct combinations per
    call (an ingest epoch's script vocabulary, not the corpus size);
    past the cap the call raises rather than building an unbounded
    plan chain — split the epoch. ``ctx.op`` follows script_update
    semantics ('delete' drops the doc, 'none' keeps the original)."""
    import json

    from kafka_es_spark.operators.painless import ScriptPlan

    sel = [seq_col, script_col]
    if params_col and params_col in actions.columns:
        sel.append(params_col)
    combos = (
        actions.select(*sel).distinct()
        .orderBy(seq_col, script_col).collect()
    )
    if len(combos) > MAX_SCRIPT_COMBOS:
        raise ValueError(
            f"{len(combos)} distinct (seq, script, params) combinations "
            f"exceed MAX_SCRIPT_COMBOS ({MAX_SCRIPT_COMBOS}); split the "
            "epoch or collapse scripts before applying"
        )
    out = docs
    for row in combos:
        params = row[params_col] if params_col and params_col in actions.columns else None
        if isinstance(params, str):
            params = json.loads(params) if params else {}
        plan = ScriptPlan(row[script_col], dict(params or {}))
        gate_rows = actions.filter(
            (F.col(seq_col) == row[seq_col])
            & (F.col(script_col) == row[script_col])
        )
        if params_col and params_col in actions.columns:
            if row[params_col] is None:
                gate_rows = gate_rows.filter(F.col(params_col).isNull())
            else:
                gate_rows = gate_rows.filter(
                    F.col(params_col) == row[params_col]
                )
        # gate = joined flag, never a driver-side id list: the target
        # set of one combo can be anything from 1 doc to a broadcast
        # epoch — AQE picks broadcast vs shuffle join from size stats
        flag = "__script_hit"
        out = plan.apply(
            out.join(
                gate_rows.select(id_col).distinct()
                .withColumn(flag, F.lit(True)),
                id_col, "left",
            ),
            where=F.col(flag),
        ).drop(flag)
    return out


def apply_partial_updates(
    docs: DataFrame,
    updates: DataFrame,
    id_col: str = "url",
    seq_col: str = "seq",
) -> DataFrame:
    """ES partial-document update (``_update`` with a ``doc`` body,
    BulkAction.kt:55-102's Update op without the painless-script form):
    per document, later updates override earlier values FIELD-WISE —
    a null field in an update leaves the standing value untouched
    (the doc-merge semantics), and docs never mentioned pass through.

    ``docs`` is the base corpus (treated as seq 0 unless it carries
    ``seq_col``); ``updates`` holds (id, seq, subset-of-columns) rows
    with seq >= 1 and null for untouched fields. Update ids absent from
    the base are upserts (doc_as_upsert) — their unmentioned fields
    stay null.

    Plan: one unionByName + ONE hash aggregate per id — per field,
    ``max(struct(seq, value))`` over non-null values picks the latest
    write (engine-portable: DuckDB compares structs field-order too).
    No window, no per-field shuffle; 10^12 docs cost exactly one
    doc-keyed aggregation."""
    if seq_col not in docs.columns:
        docs = docs.withColumn(seq_col, F.lit(0).cast("long"))
    fields = [c for c in docs.columns if c not in (id_col, seq_col)]
    up = updates
    for c in fields:
        if c not in up.columns:
            up = up.withColumn(c, F.lit(None))
    both = docs.select(id_col, seq_col, *fields).unionByName(
        up.select(id_col, seq_col, *fields)
    )
    aggs = [
        F.max(
            F.when(F.col(c).isNotNull(), F.struct(F.col(seq_col).alias("s"),
                                                  F.col(c).alias("v")))
        )["v"].alias(c)
        for c in fields
    ]
    return both.groupBy(id_col).agg(*aggs)
