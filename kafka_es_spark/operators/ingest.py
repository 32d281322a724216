"""Ingestion-edge operators — the reference's actual code surface, Spark-first.

Covers SURVEY.md §2.2/§2.3/§2.5:

* F1 tag filter            (BaseConverter.kt:52-61)
* F2 null-value drop       (ElasticsearchSinkTask.kt:282-299)
* F3 multi-action explode  (ElasticsearchSinkTask.kt:289-294)
* F4 index-name resolution (ElasticsearchSinkTask.kt:301-310)
* P1 hash router           (ElasticsearchSinkTask.kt:209-212, Actors.kt:55-84)
* K1 NDJSON bulk serialize (BulkAction.kt:104-238, BulkRequest.kt:34-41)
* X9 delete tombstones live in operators/deletes.py

The actions relation (FIXTURES.md §3):
  topic, op ∈ {index,delete,update,create}, id, index, routing, tag,
  source (JSON string, null for delete).

All operators are Column expressions (whole-stage codegen); the router's
Java/Kotlin ``String.hashCode`` parity is implemented with wrapped 32-bit
modular arithmetic so routed group assignment matches the reference
bit-for-bit (tested against the ``Int.MIN_VALUE`` mask edge the reference
tests in ActorsTests.kt:35-43).
"""

from __future__ import annotations

import logging

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_es_spark.session import local_frame

_log = logging.getLogger(__name__)

NON_RETRIABLE_ERRORS = [
    # ElasticsearchBulkSender.kt:51-92 — fatal per-item error types
    "elasticsearch_parse_exception",
    "parsing_exception",
    "routing_missing_exception",
]


# --- F1 ---------------------------------------------------------------------

def tag_filter(df: DataFrame, tag: str | None, tag_col: str = "tag") -> DataFrame:
    """Keep records whose tag header is absent or equals the configured tag;
    if no tag is configured, everything passes (BaseConverter.kt:52-61)."""
    if tag is None:
        return df
    return df.filter(F.col(tag_col).isNull() | (F.col(tag_col) == F.lit(tag)))


# --- F2 ---------------------------------------------------------------------

def drop_null_actions(df: DataFrame, cols: tuple[str, ...] = ("op",)) -> DataFrame:
    return df.na.drop(subset=list(cols))


# --- F3 ---------------------------------------------------------------------

def explode_actions(df: DataFrame, actions_col: str = "actions") -> DataFrame:
    """A record carrying a list of actions fans out to one row per action."""
    return df.withColumn("action", F.explode(F.col(actions_col))).drop(actions_col)


# --- F4 ---------------------------------------------------------------------

def resolve_index(
    df: DataFrame,
    topic_index_map: dict[str, str],
    default_index: str | None = None,
    index_col: str = "index",
    topic_col: str = "topic",
) -> DataFrame:
    """index = meta.index ?: topic.index.map[topic] ?: default (empty ⇒ null);
    unresolved rows keep null — caller decides to fail (the reference throws)."""
    m = F.create_map(*[F.lit(x) for kv in topic_index_map.items() for x in kv]) \
        if topic_index_map else F.lit(None).cast("map<string,string>")
    idx = F.when(F.col(index_col).isNotNull() & (F.col(index_col) != ""), F.col(index_col))
    resolved = F.coalesce(idx, F.element_at(m, F.col(topic_col)), F.lit(default_index))
    return df.withColumn(index_col, resolved)


def assert_index_resolved(df: DataFrame, index_col: str = "index") -> None:
    n = df.filter(F.col(index_col).isNull()).count()
    if n:
        raise ValueError(
            f"{n} action(s) have no index; set topic.index.map or a default index "
            "(ElasticsearchSinkTask.kt:301-310 semantics)"
        )


# --- P1 ---------------------------------------------------------------------

def java_string_hashcode(col: Column | str) -> Column:
    """Java/Kotlin String.hashCode as a Column: h = 31*h + c over UTF-16
    code units, wrapped int32.

    Pure Column ops: split yields codepoints; codepoints above the BMP are
    expanded to their surrogate pair (high = 0xD800 + ((cp-0x10000) >> 10),
    low = 0xDC00 + ((cp-0x10000) & 0x3FF)) because the JVM hashes UTF-16
    units, not codepoints — an emoji in a routing key must route to the
    same group as on the JVM. The fold wraps into signed 32-bit each step
    ((x+2^31) mod 2^32 - 2^31), matching JVM overflow incl. the
    Integer.MIN_VALUE edge (ActorsTests.kt:35-43)."""
    c = F.col(col) if isinstance(col, str) else col
    chars = F.filter(F.split(c, ""), lambda x: x != F.lit(""))
    cps = F.transform(chars, lambda ch: F.ascii(ch).cast("long"))
    units = F.flatten(
        F.transform(
            cps,
            lambda cp: F.when(
                cp > 0xFFFF,
                F.array(
                    F.lit(0xD800) + F.shiftright(cp - F.lit(0x10000), 10),
                    F.lit(0xDC00) + (cp - F.lit(0x10000)).bitwiseAND(F.lit(0x3FF)),
                ),
            ).otherwise(F.array(cp)),
        )
    )
    wrap = lambda x: F.pmod(x + F.lit(2**31), F.lit(2**32)) - F.lit(2**31)  # noqa: E731
    return F.aggregate(
        units,
        F.lit(0).cast("long"),
        lambda acc, u: wrap(acc * F.lit(31) + u),
    ).cast("int")


def routing_key(df: DataFrame, routing_col: str = "routing", id_col: str = "id") -> Column:
    """routing ?? id (ElasticsearchSinkTask.kt:209-212)."""
    return F.coalesce(F.col(routing_col), F.col(id_col))


def route(
    df: DataFrame,
    concurrency: int,
    routing_col: str = "routing",
    id_col: str = "id",
    group_col: str = "route_group",
    seed: int = 42,
) -> DataFrame:
    """group = (hashCode(key) & 0x7FFFFFFF) % concurrency; null key ⇒ random
    spread (Actors.kt:55-84; reference uses Random.nextInt — we use a seeded
    rand for reproducibility, same uniform-spread semantics)."""
    key = routing_key(df, routing_col, id_col)
    h = java_string_hashcode(key).cast("long").bitwiseAND(F.lit(0x7FFFFFFF))
    grp = F.when(
        key.isNotNull(), (h % concurrency).cast("int")
    ).otherwise((F.rand(seed) * concurrency).cast("int"))
    return df.withColumn(group_col, grp)


def repartition_by_route(df: DataFrame, concurrency: int, **kw) -> DataFrame:
    """The physical exchange the router performs — Spark hash repartition on
    the route group (this is where our index build swaps in doc-range
    salting, SURVEY.md §2.3 P1)."""
    return route(df, concurrency, **kw).repartition(concurrency, "route_group")


# --- K1 ---------------------------------------------------------------------

def _meta_json(op_col: Column, id_col: Column, type_col: Column, index_col: Column,
               routing_col: Column, retry_col: Column | None = None) -> Column:
    """Meta line JSON with the reference's exact field order and null-omission
    (BulkAction.kt:194-238 golden: {"<op>":{"_id","_type","_index","routing"
    [,"retry_on_conflict"]}})."""
    parts = [
        (F.lit('"_id":"'), id_col),
        (F.lit('"_type":"'), type_col),
        (F.lit('"_index":"'), index_col),
        (F.lit('"routing":"'), routing_col),
    ]
    frags = [
        F.when(v.isNotNull(), F.concat(k, v.cast("string"), F.lit('"'))).otherwise(F.lit(None))
        for k, v in parts
    ]
    if retry_col is not None:
        frags.append(
            F.when(
                retry_col.isNotNull(),
                F.concat(F.lit('"retry_on_conflict":'), retry_col.cast("string")),
            ).otherwise(F.lit(None))
        )
    inner = F.concat_ws(",", *frags)
    return F.concat(F.lit('{"'), op_col, F.lit('":{'), inner, F.lit("}}"))


def bulk_ndjson(
    df: DataFrame,
    op_col: str = "op",
    id_col: str = "id",
    type_col: str = "type",
    index_col: str = "index",
    routing_col: str = "routing",
    source_col: str = "source",
    retry_col: str | None = None,
) -> DataFrame:
    """Serialize actions to ES /_bulk NDJSON lines: meta (+ source line for
    non-delete ops), joined with \\n (BulkAction.kt:104-111)."""
    cols = dict(df.dtypes)
    type_c = F.col(type_col) if type_col in cols else F.lit(None).cast("string")
    retry_c = F.col(retry_col) if retry_col and retry_col in cols else None
    meta = _meta_json(
        F.col(op_col), F.col(id_col), type_c, F.col(index_col), F.col(routing_col), retry_c
    )
    line = F.when(
        (F.col(op_col) == "delete") | F.col(source_col).isNull(), meta
    ).otherwise(F.concat(meta, F.lit("\n"), F.col(source_col)))
    return df.withColumn("ndjson", line)


def group_into_bulks(
    df: DataFrame,
    bulk_size: int = 100,
    concurrency: int = 4,
    order_col: str = "id",
    **route_kw,
) -> DataFrame:
    """A1 — size-windowed batching: route actions (P1), then within each
    route group pack consecutive actions into bulks of ``bulk_size``
    (reference default 100, ElasticsearchSinkConnector.kt:53-54), preserving
    order within a group like the reference's group-preserving split
    (Actors.kt:60-75). Returns (route_group, bulk_id, n_actions, payload)
    where payload is the ready-to-POST NDJSON body.

    The time dimension (bulk.delay.ms) exists only under continuous arrival —
    that half lives in streaming/ingest_stream.windowed_action_counts."""
    numbered = number_into_bulks(
        df, bulk_size=bulk_size, concurrency=concurrency, order_col=order_col, **route_kw
    )
    return numbered.groupBy("route_group", "bulk_id").agg(
        F.count("*").alias("n_actions"),
        F.concat_ws(
            "\n", F.transform(F.sort_array(F.collect_list(F.struct("pos", "ndjson"))),
                              lambda s: s["ndjson"])
        ).alias("payload"),
    )


def write_bulk_ndjson(bulks: DataFrame, path: str) -> None:
    """K2 replacement — instead of HTTP POSTs to /_bulk, bulks land as text
    files (one payload per line group) that any ES loader can replay.
    content-type semantics (BulkRequest.kt:34-41) preserved in the payload."""
    bulks.select("payload").write.mode("overwrite").text(path)


# --- S3/S4 protobuf converters (gated: spark-protobuf jar not bundled) -------

def protobuf_jar_present(spark) -> bool:
    """True iff the JVM classpath carries the spark-protobuf connector.
    The *python* wrapper (pyspark.sql.protobuf.functions) always imports
    — only the JVM side is optional — so an ImportError gate never
    fires; the honest probe is a JVM class lookup."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.protobuf.functions"
        )
        return True
    except Exception:
        return False


def _spark_pkg(artifact: str) -> str:
    import pyspark

    return f"org.apache.spark:{artifact}_2.13:{pyspark.__version__}"


def decode_protobuf_actions(
    df: DataFrame,
    value_col: str,
    message_name: str,
    descriptor_file: str,
):
    """S3 — protobuf value decode via Spark's native from_protobuf
    (ProtobufConverter.kt:62-116 analogue). Requires the spark-protobuf
    connector jar + a compiled descriptor set; raises NotImplementedError
    naming the exact maven coordinate when the runtime lacks the jar
    (this sandbox does not bundle it), so the wiring below activates
    with zero code changes the moment the jar is present
    (``--packages`` or spark.jars.packages)."""
    from pyspark.sql.protobuf.functions import from_protobuf

    if not protobuf_jar_present(df.sparkSession):
        raise NotImplementedError(
            "spark-protobuf is not on the JVM classpath in this runtime; "
            f"on a real cluster add {_spark_pkg('spark-protobuf')} and a "
            "compiled descriptor set (reference: ProtobufConverter.kt, "
            "bulk_action.proto)"
        )
    return df.withColumn(
        "action", from_protobuf(F.col(value_col), message_name, descFilePath=descriptor_file)
    )


# --- error classification (F5, ElasticsearchBulkSender.kt:51-92) -------------

def split_retriable(df: DataFrame, error_col: str = "error_type"):
    """(fatal, retriable) split of failed bulk items."""
    fatal = df.filter(F.col(error_col).isin(NON_RETRIABLE_ERRORS))
    retriable = df.filter(
        F.col(error_col).isNotNull() & ~F.col(error_col).isin(NON_RETRIABLE_ERRORS)
    )
    return fatal, retriable


# --- K3: bulk-response model (ElasticsearchBulkSender.kt:130-196) -------------

_BULK_ITEM = (
    "struct<_id: string, _index: string, status: int, "
    "error: struct<type: string, reason: string>>"
)
BULK_RESPONSE_SCHEMA = (
    "struct<took: bigint, errors: boolean, items: array<struct<"
    f"index: {_BULK_ITEM}, create: {_BULK_ITEM}, "
    f"update: {_BULK_ITEM}, delete: {_BULK_ITEM}>>>"
)


def parse_bulk_response(df: DataFrame, response_col: str = "response") -> DataFrame:
    """K3 — parse an ES /_bulk response JSON column into one row per item:
    (…passthrough…, took, errors, pos, op, item_id, item_index, status,
    error_type, error_reason). Items are positional within the response,
    mirroring the reference's zip-with-sent-actions
    (ElasticsearchBulkSender.kt:130-196); each item is keyed by its op name
    — exactly one of index/create/update/delete is non-null."""
    keep = [c for c in df.columns if c != response_col]
    parsed = df.withColumn("_r", F.from_json(F.col(response_col), BULK_RESPONSE_SCHEMA))
    exploded = parsed.select(
        *keep,
        F.col("_r.took").alias("took"),
        F.col("_r.errors").alias("errors"),
        F.posexplode("_r.items").alias("pos", "_item"),
    )
    el = F.coalesce(
        F.col("_item.index"), F.col("_item.create"),
        F.col("_item.update"), F.col("_item.delete"),
    )
    op = (
        F.when(F.col("_item.index").isNotNull(), "index")
        .when(F.col("_item.create").isNotNull(), "create")
        .when(F.col("_item.update").isNotNull(), "update")
        .when(F.col("_item.delete").isNotNull(), "delete")
    )
    return exploded.select(
        *keep,
        "took",
        "errors",
        F.col("pos").cast("int").alias("pos"),
        op.alias("item_op"),  # named to avoid colliding with the action's op
        el["_id"].alias("item_id"),
        el["_index"].alias("item_index"),
        el["status"].alias("status"),
        el["error"]["type"].alias("error_type"),
        el["error"]["reason"].alias("error_reason"),
    )


def zip_bulk_items(
    actions: DataFrame, items: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Positional zip of sent actions with parsed response items: join on
    the bulk identity + item position. A left join keeps actions whose item
    is missing (malformed response) with null status — the caller treats
    those as retriable, like the reference treats a failed request."""
    keys = (keys or ["route_group", "bulk_id"]) + ["pos"]
    return actions.join(items, keys, "left")


def classify_bulk_results(zipped: DataFrame) -> DataFrame:
    """Adds ``outcome`` ∈ {ok, fatal, retry}: ok = 2xx without error; fatal
    = non-retriable error type (F5); everything else (429s, rejections,
    missing items, 5xx) retries — ElasticsearchBulkSender.kt:51-92."""
    outcome = (
        F.when(
            F.col("error_type").isNull()
            & F.col("status").isNotNull()
            & (F.col("status") < 300),
            "ok",
        )
        .when(F.col("error_type").isin(NON_RETRIABLE_ERRORS), "fatal")
        .otherwise("retry")
    )
    return zipped.withColumn("outcome", outcome)


def number_into_bulks(
    df: DataFrame,
    bulk_size: int = 100,
    concurrency: int = 4,
    order_col: str = "id",
    **route_kw,
) -> DataFrame:
    """Row-level bulk assignment: route (P1), then within each route group
    number consecutive actions into (bulk_id, pos) slots of ``bulk_size``.
    ``group_into_bulks`` aggregates this into payloads; the retry path keeps
    the row-level shape so response items can zip back positionally."""
    from pyspark.sql import Window

    routed = bulk_ndjson(route(df, concurrency, **route_kw))
    w = Window.partitionBy("route_group").orderBy(F.col(order_col).asc_nulls_last())
    return (
        routed.withColumn("_rn", F.row_number().over(w) - 1)
        .withColumn("bulk_id", (F.col("_rn") / bulk_size).cast("long"))
        .withColumn("pos", (F.col("_rn") % bulk_size).cast("int"))
        .drop("_rn")
    )


def resend_with_backoff(
    actions: DataFrame,
    send_fn,
    max_attempts: int = 3,
    backoff_base_ms: int = 100,
    bulk_size: int = 100,
    concurrency: int = 4,
    sleep_fn=None,
    **route_kw,
):
    """K4 — retry + exponential backoff for the bulk-export path
    (Actors.kt:236-259). Each attempt: number actions into bulks, call
    ``send_fn(numbered_actions) -> responses`` (a DataFrame with the bulk
    keys + a ``response`` JSON column — injectable; tests use a canned
    flaky sender, production would POST payloads), parse + zip + classify,
    accumulate ok/fatal, re-bulk the retriable remainder and resend after
    backoff_base_ms·2^attempt. Returns (ok, fatal, exhausted) DataFrames of
    the original action rows + outcome metadata.

    The backoff sleep is driver-side — the analogue of the reference
    actor's delay() between resends; Spark task retries cover transient
    executor failures underneath."""
    import time as _time

    sleep = sleep_fn if sleep_fn is not None else _time.sleep
    action_cols = actions.columns
    ok_parts: list[DataFrame] = []
    fatal_parts: list[DataFrame] = []
    pending = actions
    for attempt in range(max_attempts):
        if pending.isEmpty():
            break
        if attempt > 0:
            sleep(backoff_base_ms * (2 ** (attempt - 1)) / 1000.0)
        numbered = number_into_bulks(
            pending, bulk_size=bulk_size, concurrency=concurrency, **route_kw
        ).localCheckpoint()
        try:
            # the retry scope covers ONLY the transport step; the eager
            # localCheckpoint forces a lazy send_fn to actually run its
            # transport here, so its failures land inside this scope
            responses = send_fn(numbered)
            responses = responses.select(
                "route_group", "bulk_id", "response"
            ).localCheckpoint()
        except (AnalysisException, KeyError, TypeError, AttributeError):
            # schema mismatches / programming defects are NOT transport
            # failures — retrying would silently misclassify a genuine bug
            # as "exhausted after N attempts" with no diagnostic (ADVICE r3)
            raise
        except Exception as e:
            # whole-bulk transport failure (thrown IOError/timeout instead of
            # a response frame): the entire attempt is retriable with the
            # same backoff — the reference retries the whole bulk on a failed
            # POST (Actors.kt:236-246), not just per-item 429s. `pending`
            # stays unchanged; if attempts run out it is returned exhausted.
            _log.warning(
                "bulk send attempt %d/%d failed, backing off: %r",
                attempt + 1, max_attempts, e,
            )
            continue
        # parse/zip/classify run OUTSIDE the retry scope: a defect there is
        # a bug in this pipeline, never a reason to resend the bulk
        items = parse_bulk_response(responses)
        classified = classify_bulk_results(
            zip_bulk_items(numbered, items)
        ).localCheckpoint()
        keep = action_cols + ["status", "error_type", "outcome"]
        ok_parts.append(classified.filter(F.col("outcome") == "ok").select(*keep))
        fatal_parts.append(classified.filter(F.col("outcome") == "fatal").select(*keep))
        pending = classified.filter(F.col("outcome") == "retry").select(*action_cols)
    spark = actions.sparkSession
    empty = local_frame(spark, [], actions.schema)

    def _union(parts):
        out = None
        for p in parts:
            out = p if out is None else out.unionByName(p)
        return out

    ok = _union(ok_parts)
    fatal = _union(fatal_parts)
    if ok is None:
        ok = empty.withColumns(
            {"status": F.lit(None).cast("int"), "error_type": F.lit(None).cast("string"),
             "outcome": F.lit(None).cast("string")}
        )
    if fatal is None:
        fatal = ok.limit(0)
    return ok, fatal, pending


# --------------------------------------------------------------------------
# ES ingest pipelines (the _ingest/pipeline API): a declarative processor
# chain compiled to Column expressions. The reference's converter layer
# (S2/S3, BaseConverter.kt) is the fixed-function ancestor of this — ES
# moved per-document reshaping into these JSON-defined pipelines, so an
# engine claiming the ingestion surface needs the interpreter. Every
# processor is a pure projection/filter (whole-stage codegen, no UDF, no
# shuffle): a pipeline of any length stays ONE scan at 100 TB.
# --------------------------------------------------------------------------

_CONVERT_TYPES = {
    "integer": "int", "long": "long", "float": "float",
    "double": "double", "string": "string", "boolean": "boolean",
}


def _render_template(value: str) -> Column:
    """ES mustache value templates: '{{field}}' splices the field's
    string value; everything else is literal."""
    import re

    parts = re.split(r"(\{\{[^}]+\}\})", str(value))
    cols = []
    for p in parts:
        if not p:
            continue
        if p.startswith("{{") and p.endswith("}}"):
            cols.append(F.col(p[2:-2].strip()).cast("string"))
        else:
            cols.append(F.lit(p))
    return F.concat(*cols) if len(cols) > 1 else (
        cols[0] if cols else F.lit("")
    )


def _dissect_regex(pattern: str) -> tuple[str, list[str]]:
    """Compile an ES dissect pattern ('%{a}/%{b} %{c}') to an anchored
    regex with one lazy group per key (last greedy), literals escaped."""
    import re

    keys, regex, pos = [], "^", 0
    tokens = list(re.finditer(r"%\{([^}]*)\}", pattern))
    if not tokens:
        raise ValueError(f"dissect pattern has no %{{key}}s: {pattern!r}")
    for n, tk in enumerate(tokens):
        regex += re.escape(pattern[pos:tk.start()])
        keys.append(tk.group(1))
        regex += "(.*)" if n == len(tokens) - 1 else "(.*?)"
        pos = tk.end()
    regex += re.escape(pattern[pos:]) + "$"
    return regex, keys


def apply_pipeline(df: DataFrame, processors: list[dict]) -> DataFrame:
    """Run an ES ingest pipeline (list of single-key processor dicts,
    exactly the _ingest/pipeline JSON shape) over a relation.

    Supported processors — each compiles to Column ops in one scan:
    ``set`` (mustache value templates), ``rename``, ``remove`` (field or
    list), ``lowercase``/``uppercase``/``trim`` (optional target_field),
    ``gsub`` (regex replace-all), ``split``, ``join``, ``json`` (with a
    ``path``: extracts one JSON value as string — the relational subset
    of add_to_root), ``convert`` (integer/long/float/double/string/
    boolean, optional target_field), ``date`` (parse with ``formats[0]``
    into target_field), ``dissect`` (delimiter pattern → one column per
    %{key}), ``drop`` (with ``if``: a SQL predicate — matching docs are
    dropped). Unknown processors raise (ES's on_failure-by-default is
    fail-fast too)."""
    for proc in processors:
        if len(proc) != 1:
            raise ValueError(f"processor must have exactly one key: {proc}")
        (name, cfg), = proc.items()
        fld = cfg.get("field")
        tgt = cfg.get("target_field", fld)
        if name == "set":
            df = df.withColumn(fld, _render_template(cfg["value"]))
        elif name == "rename":
            df = df.withColumnRenamed(fld, cfg["target_field"])
        elif name == "remove":
            fields = fld if isinstance(fld, (list, tuple)) else [fld]
            df = df.drop(*fields)
        elif name in ("lowercase", "uppercase", "trim"):
            fn = {"lowercase": F.lower, "uppercase": F.upper,
                  "trim": F.trim}[name]
            df = df.withColumn(tgt, fn(F.col(fld)))
        elif name == "gsub":
            df = df.withColumn(
                tgt, F.regexp_replace(
                    F.col(fld), cfg["pattern"], cfg["replacement"]
                )
            )
        elif name == "split":
            df = df.withColumn(tgt, F.split(F.col(fld), cfg["separator"]))
        elif name == "join":
            df = df.withColumn(
                tgt, F.array_join(F.col(fld), cfg["separator"])
            )
        elif name == "json":
            df = df.withColumn(
                tgt, F.get_json_object(F.col(fld), cfg.get("path", "$"))
            )
        elif name == "convert":
            t = cfg["type"]
            if t not in _CONVERT_TYPES:
                raise ValueError(f"convert: unsupported type {t!r}")
            df = df.withColumn(tgt, F.col(fld).cast(_CONVERT_TYPES[t]))
        elif name == "date":
            fmt = (cfg.get("formats") or ["yyyy-MM-dd'T'HH:mm:ss"])[0]
            df = df.withColumn(
                cfg.get("target_field", "@timestamp"),
                F.to_timestamp(F.col(fld), fmt),
            )
        elif name == "dissect":
            regex, keys = _dissect_regex(cfg["pattern"])
            for i, k in enumerate(keys, start=1):
                df = df.withColumn(
                    k, F.regexp_extract(F.col(fld), regex, i)
                )
        elif name == "drop":
            df = df.filter(~F.expr(cfg["if"]))
        else:
            raise ValueError(f"unsupported ingest processor: {name!r}")
    return df
