"""The ES ``_search`` request body — the JSON Query DSL, interpreted.

Reference parity: this is the request shape every ES client sends
(``POST index/_search {"query": {...}, "size": ...}``); the reference
delegates it to ES wholesale (`SURVEY.md §3.3`). Here the DSL compiles
onto the engine's existing primitives, so every clause inherits the
plans (and the scale arguments) those operators already carry:

* scoring clauses (``match``, ``term``, ``terms``, ``prefix``) become
  relational-BM25 (doc_id, score) frames — O(postings of the clause's
  terms), pruned scans, one seg-cogroup each that also applies the
  clause's operator / minimum_should_match;
* filter-context clauses (``filter``, ``must_not``, ``exists``,
  ``ids``, ``range``, ``match_phrase``, ``match_all``) become doc-id
  sets applied as left-semi/left-anti joins — never touching idf/avgdl
  (the ES filter contract);
* ``bool`` composes them with Lucene's semantics: every ``must`` and
  ``filter`` gates, any ``must_not`` excludes, ``should`` adds score
  and — when no must/filter exists — at least ``minimum_should_match``
  (default 1) must match. The must/should clauses a doc matched are
  counted in the same aggregation that sums its score, so no scorer
  runs twice.

Scoring model: the Lucene scoring-boolean sum — a doc's score is the
BM25 sum over every scoring clause it matches (must clauses score too).
``match_phrase`` is supported in FILTER context (the constant-score
shape); in scoring context it raises with a pointer to
``positions.phrase_topk``, which owns phrase-weighted BM25 — a
deliberate seam, not an accident.

Everything driver-side here is query-sized (clause lists, term
expansions); the data-sized work all happens inside the delegated
operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_es_spark.session import local_frame


class DSLError(ValueError):
    pass


def _single(d: dict, what: str) -> tuple[str, object]:
    if not isinstance(d, dict) or len(d) != 1:
        raise DSLError(f"{what} must be a single-key object, got {d!r}")
    return next(iter(d.items()))


def _as_clauses(v) -> list[dict]:
    if v is None:
        return []
    return v if isinstance(v, list) else [v]


class _Compiled:
    """A compiled clause: optional score frame (doc_id, score) and an
    optional gate set (doc_id). A scoring clause used in filter context
    keeps only its gate. ``one_per_doc``: the score frame provably holds
    one row per doc (a ``relational_scores`` frame or an aggregate), so
    ``bool`` can count it toward a must/should floor as is."""

    def __init__(self, scores: DataFrame | None, gate: DataFrame | None,
                 one_per_doc: bool = False):
        self.scores = scores
        self.gate = gate
        self.one_per_doc = one_per_doc


def _text_clause(searcher, q: str, scoring: bool, boost: float = 1.0,
                 **match) -> _Compiled:
    """A full-text clause over the analyzed ``text`` field: its hit set
    in filter context, else its BM25 scores — one postings pass either
    way (``match``: the mode / min_should_match / must_not arguments of
    ``relational_scores``, applied inside its kernel)."""
    if not scoring:
        return _Compiled(None, searcher.matching_doc_ids(q, **match))
    scores = searcher.relational_scores(q, **match)
    if boost != 1.0:
        scores = scores.withColumn("score", F.col("score") * boost)
    return _Compiled(scores, None, one_per_doc=True)


def _min_should_match(value, total: int, lowest: int = 1) -> int:
    """Resolve an ES ``minimum_should_match`` value against ``total``
    optional clauses (the Lucene grammar): an int or int string is a
    fixed count, a NEGATIVE count means ``total - n`` may be required,
    ``"P%"`` is ``floor(total * P/100)``, and ``"-P%"`` means that
    percentage (rounded down) may be MISSING. Conditional forms
    (``"3<90%"``) are out of scope and fail loudly. The result is
    clamped to >= ``lowest``: 1 by default (a computed 0 still needs one
    optional clause to hit — BooleanQuery with no required clauses), 0
    beside required clauses; values above ``total`` are kept as-is and
    simply match nothing, like ES."""
    import math

    if isinstance(value, int):
        n = value
    else:
        s = str(value).strip()
        if "<" in s:
            raise DSLError(
                "conditional minimum_should_match forms (\"3<90%\") are "
                f"not supported (got {s!r})"
            )
        if s.endswith("%"):
            p = float(s[:-1])
            cnt = int(math.floor(abs(p) * total / 100.0))
            return max(lowest, (total - cnt) if p < 0 else cnt)
        n = int(s)
    if n < 0:
        n = total + n
    return max(lowest, n)


def _fuzziness(value, term_len: int) -> int:
    """Resolve an ES ``fuzziness`` value for a term of ``term_len``
    chars: an int/int-string is a fixed edit distance; ``"AUTO"`` (the
    ES default) and ``"AUTO:low,high"`` scale with term length — 0
    edits below ``low`` (default 3), 1 below ``high`` (default 6),
    else 2."""
    if isinstance(value, int):
        return value
    s = str(value).strip()
    if s.upper().startswith("AUTO"):
        low, high = 3, 6
        if ":" in s:
            try:
                low, high = (int(x) for x in s.split(":", 1)[1].split(","))
            except ValueError:
                raise DSLError(f"fuzziness AUTO form must be AUTO:low,high (got {s!r})")
        return 0 if term_len < low else (1 if term_len < high else 2)
    return int(s)


def _stored_col(searcher, field: str) -> DataFrame:
    """The docmap restricted to (doc_id, field); unknown fields fail
    loudly with the stored-field list."""
    dm = searcher.docmap
    if field not in dm.columns:
        raise DSLError(
            f"field {field!r} is not stored in this index's docmap "
            f"(stored: {sorted(set(dm.columns) - {'doc_id'})})"
        )
    return dm.select("doc_id", field)


def _field_ids(searcher, field: str, pred) -> DataFrame:
    """Doc ids whose STORED field satisfies a Column predicate."""
    return (
        _stored_col(searcher, field)
        .filter(pred(F.col(field)))
        .select("doc_id")
    )


def _compile(searcher, clause: dict, scoring: bool, emb=None) -> _Compiled:
    kind, body = _single(clause, "query clause")

    if kind == "match_all":
        return _Compiled(None, searcher.match_all_ids())

    if kind == "match_none":
        return _Compiled(
            None,
            local_frame(searcher.spark, [], "doc_id long"),
        )

    if kind == "match":
        field, spec = _single(body, "match")
        if field != "text":
            raise DSLError("match targets the analyzed 'text' field only")
        if isinstance(spec, str):
            spec = {"query": spec}
        q = spec["query"]
        msm = spec.get("minimum_should_match")
        match = {}
        if spec.get("operator", "or") == "and":
            match["mode"] = "and"
        elif msm is not None:
            from kafka_es_spark.functions.tokenize import tokenize_py

            match["min_should_match"] = _min_should_match(
                msm, len(set(tokenize_py(q)))
            )
        return _text_clause(
            searcher, q, scoring, float(spec.get("boost", 1.0)), **match
        )

    if kind in ("term", "terms"):
        field, spec = _single(body, kind)
        vals = spec if isinstance(spec, list) else [
            spec["value"] if isinstance(spec, dict) else spec
        ]
        if field == "text":
            return _text_clause(
                searcher, " ".join(str(v) for v in vals), scoring
            )
        # keyword path: exact match on a stored field (no analysis) —
        # filter context regardless (keyword hits score 1.0 in ES only
        # via constant_score; keep the honest subset)
        return _Compiled(
            None, _field_ids(searcher, field, lambda c: c.isin(list(vals)))
        )

    if kind == "prefix":
        field, spec = _single(body, "prefix")
        if field != "text":
            raise DSLError("prefix targets the analyzed 'text' field only")
        value = spec["value"] if isinstance(spec, dict) else spec
        rows = (
            searcher.term_stats.filter(F.col("term").startswith(value))
            .select("term").orderBy("term").limit(50).collect()
        )
        terms = [r["term"] for r in rows]
        if not terms:
            empty = local_frame(searcher.spark, [], "doc_id long")
            return _Compiled(None, empty)
        return _text_clause(searcher, " ".join(terms), scoring)

    if kind in ("wildcard", "fuzzy", "regexp"):
        field, spec = _single(body, kind)
        if field != "text":
            raise DSLError(f"{kind} targets the analyzed 'text' field only")
        value = spec["value"] if isinstance(spec, dict) else spec
        cap = int(spec.get("max_expansions", 50)) if isinstance(spec, dict) else 50
        ts = searcher.term_stats
        if kind == "wildcard":
            like = value.replace("%", r"\%").replace("_", r"\_")
            like = like.replace("*", "%").replace("?", "_")
            exp = ts.filter(F.col("term").like(like))
        elif kind == "regexp":
            exp = ts.filter(F.col("term").rlike(f"^(?:{value})$"))
        else:  # fuzzy
            fuzz = (
                _fuzziness(spec.get("fuzziness", 2), len(value))
                if isinstance(spec, dict)
                else 2
            )
            exp = ts.filter(
                (F.abs(F.length(F.col("term")) - len(value)) <= fuzz)
                & (F.levenshtein(F.col("term"), F.lit(value)) <= fuzz)
            )
        rows = exp.select("term").orderBy("term").limit(cap).collect()
        terms = [r["term"] for r in rows]
        if not terms:
            return _Compiled(
                None, local_frame(searcher.spark, [], "doc_id long")
            )
        return _text_clause(searcher, " ".join(terms), scoring)

    if kind == "match_phrase":
        if scoring:
            raise DSLError(
                "match_phrase inside a scoring bool is not supported — "
                "use it as the TOP-LEVEL query (served by "
                "positions.phrase_topk, phrase-weighted BM25) or under "
                "bool filter/must_not"
            )
        field, spec = _single(body, "match_phrase")
        if field != "text":
            raise DSLError("match_phrase targets the analyzed 'text' field")
        from kafka_es_spark.operators.positions import phrase_match_ids

        q = spec["query"] if isinstance(spec, dict) else spec
        slop = spec.get("slop", 0) if isinstance(spec, dict) else 0
        return _Compiled(
            None,
            phrase_match_ids(searcher.spark, searcher.index_dir, q, slop=slop),
        )

    if kind == "exists":
        return _Compiled(None, searcher.exists_ids(body["field"]))

    if kind == "ids":
        req = local_frame(
            searcher.spark, [(u,) for u in body["values"]], "url string"
        )
        dm = searcher.docmap.select("url", "doc_id")
        return _Compiled(
            None, dm.join(F.broadcast(req), "url").select("doc_id")
        )

    if kind == "range":
        field, spec = _single(body, "range")
        if not isinstance(spec, dict):
            raise DSLError("range needs {gte/gt/lte/lt: value}")

        def pred(c):
            p = F.lit(True)
            if "gte" in spec:
                p = p & (c >= spec["gte"])
            if "gt" in spec:
                p = p & (c > spec["gt"])
            if "lte" in spec:
                p = p & (c <= spec["lte"])
            if "lt" in spec:
                p = p & (c < spec["lt"])
            return p

        return _Compiled(None, _field_ids(searcher, field, pred))

    if kind == "constant_score":
        inner = _compile(searcher, body["filter"], scoring=False, emb=emb)
        boost = float(body.get("boost", 1.0))
        gate = inner.gate
        if gate is None:
            raise DSLError("constant_score filter produced no hit set")
        return _Compiled(
            gate.select("doc_id", F.lit(boost).alias("score")), None
        )

    if kind == "boosting":
        # ES boosting query: hit set = positive's matches; docs ALSO
        # matching negative keep their rank but score × negative_boost
        # (negative never excludes — that is must_not's job). One left
        # join of a flag column against the negative gate; the negative
        # clause is compiled in filter context so it never pays scoring.
        pos = _compile(searcher, body["positive"], scoring=True, emb=emb)
        neg = _compile(searcher, body["negative"], scoring=False, emb=emb)
        nb = float(body.get("negative_boost", 0.5))
        base = _inner_scores(searcher, pos)
        if neg.gate is None:
            raise DSLError("boosting negative clause produced no hit set")
        flagged = base.join(
            neg.gate.select("doc_id", F.lit(True).alias("__neg")),
            "doc_id", "left",
        )
        return _Compiled(
            flagged.select(
                "doc_id",
                F.when(F.col("__neg"), F.col("score") * nb)
                .otherwise(F.col("score")).alias("score"),
            ),
            None,
        )

    if kind == "script_score":
        return _compile_script_score(searcher, body, emb=emb)

    if kind == "function_score":
        return _compile_function_score(searcher, body, emb=emb)

    if kind == "dis_max":
        # ES dis_max: score = best subquery + tie_breaker * (sum of the
        # others); the hit set is the UNION of the subqueries' hit sets.
        # Each subquery's (doc_id, score) relation is already bounded by
        # its own postings, so the combine is a union + ONE hash
        # aggregation — never a corpus pass.
        subs = _as_clauses(body.get("queries"))
        if not subs:
            raise DSLError("dis_max needs queries[]")
        comps = [_compile(searcher, c, scoring, emb=emb) for c in subs]
        if not scoring:
            gate = None
            for c in comps:
                part = _ids(c).distinct()
                gate = part if gate is None else gate.unionByName(part)
            return _Compiled(None, gate.distinct())
        tb = float(body.get("tie_breaker", 0.0))
        u = None
        for c in comps:
            part = _inner_scores(searcher, c).select("doc_id", "score")
            u = part if u is None else u.unionByName(part)
        agg = u.groupBy("doc_id").agg(
            F.max("score").alias("__mx"), F.sum("score").alias("__sm")
        )
        return _Compiled(
            agg.select(
                "doc_id",
                (
                    F.col("__mx")
                    + F.lit(tb) * (F.col("__sm") - F.col("__mx"))
                ).alias("score"),
            ),
            None,
            one_per_doc=True,
        )

    if kind == "wrapper":
        # ES wrapper query: a base64-encoded JSON query, decoded and
        # compiled like any inline clause (the escape hatch clients use
        # to ship DSL through systems that mangle JSON)
        import base64
        import json

        raw = body["query"] if isinstance(body, dict) else body
        try:
            inner = json.loads(base64.b64decode(raw))
        except Exception as e:  # noqa: BLE001 - surface as a DSL error
            raise DSLError(f"wrapper query is not base64 JSON: {e}") from e
        return _compile(searcher, inner, scoring, emb=emb)

    if kind == "rank_feature":
        # ES rank_feature query: matches docs HAVING the feature field,
        # scored boost * S(x) where S is saturation (default)/log/
        # sigmoid/linear — bounded contributions meant for bool.should
        # re-ranking (Searcher.feature_boost_topk documents the same
        # family; here the feature is a STORED docmap column so the
        # score is one Column expression over a pruned docmap scan)
        fld = body["field"]
        rel = _stored_col(searcher, fld)
        x = F.col(fld).cast("double")
        boost = float(body.get("boost", 1.0))
        if "log" in body:
            sf = float(body["log"]["scaling_factor"])
            v = F.log(F.lit(sf) + x)
        elif "sigmoid" in body:
            piv = float(body["sigmoid"]["pivot"])
            ex = float(body["sigmoid"]["exponent"])
            v = F.pow(x, ex) / (F.pow(x, ex) + F.lit(piv) ** F.lit(ex))
        elif "linear" in body:
            v = x
        else:
            sat = body.get("saturation")
            if not isinstance(sat, dict) or "pivot" not in sat:
                raise DSLError(
                    "rank_feature needs saturation.pivot (ES computes a "
                    "default pivot from the index's feature stats; this "
                    "engine keeps it explicit) or log/sigmoid/linear"
                )
            piv = float(sat["pivot"])
            v = x / (x + F.lit(piv))
        hits = rel.filter(x.isNotNull())
        if not scoring:
            return _Compiled(None, hits.select("doc_id"))
        return _Compiled(
            hits.select("doc_id", (F.lit(boost) * v).alias("score")), None,
            one_per_doc=True,
        )

    if kind == "distance_feature":
        # ES distance_feature query: score = boost * pivot /
        # (pivot + |x - origin|) over a stored numeric/date field —
        # recency/proximity boosting with bounded contribution
        fld = body["field"]
        rel = _stored_col(searcher, fld)
        x = F.col(fld).cast("double")
        boost = float(body.get("boost", 1.0))
        piv = float(body["pivot"])
        org = float(body["origin"])
        v = F.lit(piv) / (F.lit(piv) + F.abs(x - F.lit(org)))
        hits = rel.filter(x.isNotNull())
        if not scoring:
            return _Compiled(None, hits.select("doc_id"))
        return _Compiled(
            hits.select("doc_id", (F.lit(boost) * v).alias("score")), None,
            one_per_doc=True,
        )

    if kind == "match_bool_prefix":
        # ES match_bool_prefix: every analyzed term but the last is a
        # term should clause, the last matches as a prefix — the same
        # deterministic dictionary rewrite as Searcher.bool_prefix_topk
        # (first max_expansions terms in alphabetic order), then the
        # whole disjunction scores as plain BM25 OR
        from kafka_es_spark.functions.tokenize import tokenize_py

        field, spec = _single(body, "match_bool_prefix")
        if field != "text":
            raise DSLError(
                "match_bool_prefix targets the analyzed 'text' field only"
            )
        if isinstance(spec, str):
            spec = {"query": spec}
        toks = tokenize_py(str(spec["query"]))
        if not toks:
            return _Compiled(
                None, local_frame(searcher.spark, [], "doc_id long")
            )
        cap = int(spec.get("max_expansions", 50))
        fixed, pre = toks[:-1], toks[-1]
        rows = (
            searcher.term_stats.filter(F.col("term").startswith(pre))
            .select("term").orderBy("term").limit(cap).collect()
        )
        terms = sorted(set(fixed) | {r["term"] for r in rows})
        if not terms:
            return _Compiled(
                None, local_frame(searcher.spark, [], "doc_id long")
            )
        return _text_clause(searcher, " ".join(terms), scoring)

    if kind == "terms_set":
        # ES terms_set query: docs containing >= m of the terms where m
        # is per-document (minimum_should_match_field, a stored docmap
        # column) or a literal minimum_should_match; survivors keep
        # their OR-mode BM25 scores (Searcher.terms_set_topk semantics,
        # compiled relationally so it composes inside bool)
        field, spec = _single(body, "terms_set")
        if field != "text":
            raise DSLError("terms_set targets the analyzed 'text' field")
        terms = [str(t) for t in spec["terms"]]
        q = " ".join(terms)
        m_field = spec.get("minimum_should_match_field")
        m_lit = spec.get("minimum_should_match")
        if m_field is None and m_lit is None:
            raise DSLError(
                "terms_set needs minimum_should_match_field or a literal "
                "minimum_should_match"
            )
        if m_field is None:
            return _text_clause(
                searcher, q, scoring, min_should_match=int(m_lit)
            )
        # per-doc m: terms_set_topk's seg-cogroup kernel gives each
        # doc's score and matched-term count in one postings pass; the
        # stored threshold joins on the dense doc id
        hits = (
            searcher.matched_scores(q)
            .join(_stored_col(searcher, m_field), "doc_id")
            .filter(F.col("_matched") >= F.col(m_field).cast("long"))
        )
        if not scoring:
            return _Compiled(None, hits.select("doc_id"))
        return _Compiled(hits.select("doc_id", "score"), None, one_per_doc=True)

    if kind == "knn":
        # ES 8.12+ knn QUERY clause (vs the top-level knn section): a
        # composable clause — usable inside bool, scored by cosine over
        # the top num_candidates, so lexical filters/musts gate it like
        # any other clause. An inner `filter` pre-gates the candidate
        # set BEFORE scoring (the clause guarantees its candidates come
        # from the filtered set). The index stores no vectors by design;
        # the embeddings relation rides in via search(embeddings=...).
        from kafka_es_spark.operators.similarity import cosine_topk

        if emb is None:
            raise DSLError(
                "knn query clause needs the embeddings relation "
                "(search(..., embeddings=...))"
            )
        nc = int(body.get("num_candidates", 100))
        boost = float(body.get("boost", 1.0))
        dm = searcher.docmap.select("doc_id", "url")
        embeddings = emb
        flt = body.get("filter")
        if flt is not None:
            gate = _ids(_compile(searcher, flt, scoring=False, emb=emb))
            urls = gate.join(dm, "doc_id")
            if "url" in embeddings.columns:
                embeddings = embeddings.join(
                    urls.select("url"), "url", "left_semi"
                )
            else:
                keep = urls.select(
                    F.regexp_extract("url", r"doc://(\d+)", 1)
                    .cast("long").alias("vec_id")
                )
                embeddings = embeddings.join(keep, "vec_id", "left_semi")
        qdf = local_frame(
            searcher.spark, [(-1, [float(x) for x in body["query_vector"]])],
            "query_id long, qvec array<double>",
        )
        top = cosine_topk(
            embeddings, qdf, k=nc,
            similarity=body.get("similarity"), round_to=None,
        )
        if "url" in emb.columns:
            ids = top.join(
                emb.select("vec_id", "url"), "vec_id"
            ).join(dm, "url")
        else:
            # driver-corpus convention: docmap url doc://<vec_id>
            ids = top.join(
                dm.withColumn(
                    "vec_id",
                    F.regexp_extract("url", r"doc://(\d+)", 1).cast("long"),
                ),
                "vec_id",
            )
        scores = ids.select(
            "doc_id", (F.col("cos") * F.lit(boost)).alias("score")
        )
        if searcher.persistent_excluded:
            scores = scores.filter(
                ~F.col("doc_id").isin(sorted(searcher.persistent_excluded))
            )
        if not scoring:
            return _Compiled(None, scores.select("doc_id"))
        return _Compiled(scores, None)

    if kind == "more_like_this":
        # ES more_like_this, like-as-TEXT form: analyze the given text,
        # rank its terms by tf·idf (tf within the like text, df from
        # term_stats — Lucene MoreLikeThis's "interesting terms"), run
        # the top max_query_terms as a BM25 OR. The doc-reference form
        # ({"_id": ...}) needs the docs_text relation and is served by
        # Searcher.more_like_this — a deliberate seam, same as
        # match_phrase → phrase_topk.
        from collections import Counter

        from kafka_es_spark.functions.tokenize import tokenize_py
        from kafka_es_spark.operators.bm25 import idf

        like = body.get("like")
        if isinstance(like, str):
            like = [like]
        if not isinstance(like, list) or not all(
            isinstance(x, str) for x in like
        ):
            raise DSLError(
                "more_like_this here takes like as text (string or "
                "string list); the doc-reference form is "
                "Searcher.more_like_this (needs the docs_text relation)"
            )
        tf = Counter()
        for t in like:
            tf.update(tokenize_py(t))
        min_tf = int(body.get("min_term_freq", 1))
        min_df = int(body.get("min_doc_freq", 1))
        cand = sorted(t for t, c in tf.items() if c >= min_tf)
        if not cand:
            return _Compiled(
                None, local_frame(searcher.spark, [], "doc_id long")
            )
        dfs = {
            t: df for t, df in searcher.doc_freqs(cand).items() if df >= min_df
        }
        ranked = sorted(
            dfs,
            key=lambda t: (-(tf[t] * idf(searcher.n_docs, dfs[t])), t),
        )[: int(body.get("max_query_terms", 10))]
        if not ranked:
            return _Compiled(
                None, local_frame(searcher.spark, [], "doc_id long")
            )
        return _text_clause(searcher, " ".join(sorted(ranked)), scoring)

    if kind == "pinned":
        # ES pinned query: the listed ids (urls here — the engine's _id)
        # rank first in the given order via rank-encoded scores far
        # above any BM25 value, organic hits follow with their normal
        # scores, and a pinned doc never appears twice
        # (Searcher.pinned_topk's exact discipline, relational form)
        urls = body.get("ids")
        organic = body.get("organic")
        if not urls or organic is None:
            raise DSLError("pinned needs ids[] and organic")
        pin_df = local_frame(
            searcher.spark, [(u, float(1e9 - i)) for i, u in enumerate(urls)],
            "url string, score double",
        )
        dm = searcher.docmap.select("doc_id", "url")
        pins = pin_df.join(dm, "url").select("doc_id", "score")
        org = _inner_scores(searcher, _compile(searcher, organic, scoring=True, emb=emb))
        org = org.join(F.broadcast(pins.select("doc_id")), "doc_id", "left_anti")
        scores = pins.unionByName(org)
        if not scoring:
            return _Compiled(None, scores.select("doc_id"))
        return _Compiled(scores, None)

    if kind == "bool":
        return _compile_bool(searcher, body, scoring, emb=emb)

    raise DSLError(f"unsupported query clause {kind!r}")


def _inner_scores(searcher, comp: _Compiled) -> DataFrame:
    """(doc_id, score) for a compiled inner query; a pure filter-context
    inner query scores 1.0 per doc (ES: _score inside script_score /
    function_score is 1 for non-scoring queries)."""
    if comp.scores is None:
        return comp.gate.select("doc_id", F.lit(1.0).alias("score"))
    return comp.scores


def _join_doc_fields(searcher, scores: DataFrame, fields) -> tuple:
    """Join exactly the stored docmap columns a script references onto
    the (doc_id, score) frame; returns (frame, {field: sql type})."""
    if not fields:
        return scores, {}
    dm = searcher.docmap
    missing = [f for f in fields if f not in dm.columns]
    if missing:
        raise DSLError(
            f"script references doc fields {missing} not stored in this "
            f"index's docmap (stored: {sorted(set(dm.columns) - {'doc_id'})})"
        )
    types = {
        f.name: f.dataType.simpleString()
        for f in dm.schema.fields if f.name in fields
    }
    return (
        scores.join(dm.select("doc_id", *fields), "doc_id", "left"), types
    )


def _compile_script_score(searcher, body: dict, emb=None) -> _Compiled:
    """ES ``script_score`` query: the inner query's hit set, rescored by
    a painless expression over ``_score`` and ``doc['field'].value``
    (compiled ONCE to a Column — operators/painless.ScoreScript; no
    per-row interpreter). ``min_score`` drops hits below the cutoff.
    ES-8 rejects scripts yielding negative scores at runtime; this
    engine keeps whatever the expression computes (documented)."""
    from kafka_es_spark.operators.painless import ScoreScript

    script = body.get("script")
    if not isinstance(script, dict) or "source" not in script:
        raise DSLError("script_score needs script.source")
    ss = ScoreScript(script["source"], script.get("params"))
    inner = _compile(searcher, body["query"], scoring=True, emb=emb)
    base = _inner_scores(searcher, inner)
    base, types = _join_doc_fields(searcher, base, ss.doc_fields)
    col = ss.column(
        F.col("score"), {f: F.col(f) for f in ss.doc_fields}, types
    )
    out = base.select("doc_id", col.cast("double").alias("score"))
    if body.get("min_score") is not None:
        out = out.filter(F.col("score") >= float(body["min_score"]))
    return _Compiled(out, None)


_FVF_MODIFIERS = {
    "none": lambda c: c,
    "log": lambda c: F.log10(c),
    "log1p": lambda c: F.log10(c + 1),
    "log2p": lambda c: F.log10(c + 2),
    "ln": lambda c: F.log(c),
    "ln1p": lambda c: F.log(c + 1),
    "ln2p": lambda c: F.log(c + 2),
    "square": lambda c: c * c,
    "sqrt": lambda c: F.sqrt(c),
    "reciprocal": lambda c: F.lit(1.0) / c,
}


def _compile_function_score(searcher, body: dict, emb=None) -> _Compiled:
    """ES ``function_score``: per-doc function values combined by
    ``score_mode`` (sum/multiply/avg/max/min/first over the functions
    whose ``filter`` matched; 1.0 when none matched), capped at
    ``max_boost``, then merged with the query score by ``boost_mode``
    (multiply default / sum / avg / max / min / replace). Functions:
    ``weight``, ``field_value_factor`` (all ES modifiers), and
    ``script_score``. Everything is Column arithmetic over the inner
    hit set — function filters become broadcast-joined boolean flags,
    never a second corpus pass."""
    from kafka_es_spark.operators.painless import ScoreScript

    inner = _compile(searcher, body["query"], scoring=True, emb=emb)
    base = _inner_scores(searcher, inner)

    fns = body.get("functions")
    if fns is None:
        # single-function shorthand forms at the top level
        fns = [{
            k: body[k]
            for k in ("weight", "field_value_factor", "script_score",
                      "random_score", "gauss", "exp", "linear")
            if k in body
        }]
        if not fns[0]:
            raise DSLError(
                "function_score needs functions[] or a top-level "
                "weight/field_value_factor/script_score/random_score/"
                "decay function"
            )

    _DECAYS = ("gauss", "exp", "linear")
    _KNOWN_FN = {"filter", "weight", "field_value_factor", "script_score",
                 "random_score", *_DECAYS}
    # stored fields any function touches, joined once
    need_fields: set = set()
    scripts: list[ScoreScript | None] = []
    for f_ in fns:
        unknown = set(f_) - _KNOWN_FN
        if unknown:
            raise DSLError(
                f"function_score function kind(s) {sorted(unknown)} — "
                f"supported: {sorted(_KNOWN_FN - {'filter', 'weight'})}"
            )
        if "field_value_factor" in f_:
            need_fields.add(f_["field_value_factor"]["field"])
        for dk in _DECAYS:
            if dk in f_:
                need_fields.add(next(iter(f_[dk])))
        if "random_score" in f_:
            need_fields.add("url")
        if "script_score" in f_:
            sc = f_["script_score"]["script"]
            ss = ScoreScript(sc["source"], sc.get("params"))
            need_fields.update(ss.doc_fields)
            scripts.append(ss)
        else:
            scripts.append(None)
    base, types = _join_doc_fields(searcher, base, sorted(need_fields))

    # function filters -> boolean flag columns (left join against the
    # filter's gate set; query-sized relative to the hit set)
    flags: list = []
    for i, f_ in enumerate(fns):
        if "filter" in f_:
            gate = _compile(searcher, f_["filter"], scoring=False, emb=emb).gate
            if gate is None:
                raise DSLError("function filter produced no hit set")
            flag = f"__fs_match_{i}"
            base = base.join(
                gate.select("doc_id", F.lit(True).alias(flag)),
                "doc_id", "left",
            )
            flags.append(F.coalesce(F.col(flag), F.lit(False)))
        else:
            flags.append(F.lit(True))

    vals: list = []
    for f_, ss, flag in zip(fns, scripts, flags):
        if "field_value_factor" in f_:
            spec = f_["field_value_factor"]
            c = F.col(spec["field"]).cast("double")
            if spec.get("missing") is not None:
                c = F.coalesce(c, F.lit(float(spec["missing"])))
            c = c * float(spec.get("factor", 1.0))
            mod = spec.get("modifier", "none")
            if mod not in _FVF_MODIFIERS:
                raise DSLError(f"field_value_factor modifier {mod!r}")
            v = _FVF_MODIFIERS[mod](c)
        elif ss is not None:
            v = ss.column(
                F.col("score"), {f: F.col(f) for f in ss.doc_fields}, types
            ).cast("double")
        elif any(dk in f_ for dk in _DECAYS):
            # numeric decay functions (the ES distance-scoring family):
            # dist = max(0, |x - origin| - offset); the curve reaches
            # ``decay`` (default 0.5) at distance ``scale``
            import math

            dk = next(dk for dk in _DECAYS if dk in f_)
            fld, spec = _single(f_[dk], dk)
            x = F.col(fld).cast("double")
            origin = float(spec["origin"])
            scale = float(spec["scale"])
            offset = float(spec.get("offset", 0.0))
            decay = float(spec.get("decay", 0.5))
            if scale <= 0 or not (0.0 < decay < 1.0):
                raise DSLError(f"{dk} needs scale > 0 and 0 < decay < 1")
            dist = F.greatest(F.lit(0.0), F.abs(x - origin) - offset)
            if dk == "gauss":
                sigma2 = -scale * scale / (2.0 * math.log(decay))
                v = F.exp(-(dist * dist) / F.lit(2.0 * sigma2))
            elif dk == "exp":
                v = F.exp(F.lit(math.log(decay) / scale) * dist)
            else:
                s_ = scale / (1.0 - decay)
                v = F.greatest(F.lit(0.0), (F.lit(s_) - dist) / F.lit(s_))
        elif "random_score" in f_:
            # same portable hash as Searcher.random_score_topk: a
            # deterministic uniform [0,1) per (url, seed)
            from kafka_es_spark.operators.dedup import hash32

            seed = int(f_["random_score"].get("seed", 0))
            v = hash32(
                F.concat(F.col("url"), F.lit(f":{seed}"))
            ) / F.lit(float(2**32))
        else:
            v = F.lit(1.0)
        if "weight" in f_:
            # weight alone is a function; weight + another function
            # multiplies that function's value (ES semantics)
            v = v * float(f_["weight"])
        vals.append(F.when(flag, v))

    matched = F.array([v for v in vals])
    nn = F.filter(matched, lambda x: x.isNotNull())
    n = F.size(nn)
    mode = body.get("score_mode", "multiply")
    if mode == "multiply":
        fs = F.aggregate(nn, F.lit(1.0), lambda acc, x: acc * x)
    elif mode == "sum":
        fs = F.aggregate(nn, F.lit(0.0), lambda acc, x: acc + x)
    elif mode == "avg":
        fs = F.when(
            n > 0,
            F.aggregate(nn, F.lit(0.0), lambda acc, x: acc + x) / n,
        ).otherwise(F.lit(1.0))
    elif mode == "max":
        fs = F.coalesce(F.array_max(nn), F.lit(1.0))
    elif mode == "min":
        fs = F.coalesce(F.array_min(nn), F.lit(1.0))
    elif mode == "first":
        fs = F.coalesce(F.element_at(nn, 1), F.lit(1.0))
    else:
        raise DSLError(f"score_mode {mode!r}")
    if mode in ("multiply", "sum"):
        # no matching function -> neutral 1.0 (ES)
        fs = F.when(n > 0, fs).otherwise(F.lit(1.0))
    if body.get("max_boost") is not None:
        fs = F.least(fs, F.lit(float(body["max_boost"])))

    bmode = body.get("boost_mode", "multiply")
    sc = F.col("score")
    merged = {
        "multiply": lambda: sc * fs,
        "sum": lambda: sc + fs,
        "avg": lambda: (sc + fs) / 2,
        "max": lambda: F.greatest(sc, fs),
        "min": lambda: F.least(sc, fs),
        "replace": lambda: fs,
    }
    if bmode not in merged:
        raise DSLError(f"boost_mode {bmode!r}")
    out = base.select(
        "doc_id", merged[bmode]().cast("double").alias("score")
    )
    if body.get("min_score") is not None:
        out = out.filter(F.col("score") >= float(body["min_score"]))
    return _Compiled(out, None)


def _apply_collapse(searcher, out: DataFrame, spec) -> DataFrame:
    """ES field collapsing: one hit per distinct value of a stored
    field, each group represented by its best-scoring doc (score desc,
    doc_id asc tie-break — ES's order), groups then ranked by that
    score. Docs missing the field form one null group (ES collapses on
    doc-values; absent values group together).

    Plan shape: hit set → docmap field join → ONE hash aggregation
    (``max_by`` on a (score, −doc_id) ordering struct). No global
    window — group count bounds the output, so this holds at any hit
    count; the expensive side stays the already-bounded hit relation."""
    field = spec["field"] if isinstance(spec, dict) else spec
    dm = searcher.docmap
    if field not in dm.columns:
        raise DSLError(
            f"collapse field {field!r} is not stored in this index's "
            f"docmap (stored: {sorted(set(dm.columns) - {'doc_id'})})"
        )
    j = out.join(dm.select("doc_id", field), "doc_id", "left")
    order = F.struct(
        F.col("score").alias("s"), (-F.col("doc_id")).alias("nd")
    )
    top = F.max_by(
        F.struct(F.col("doc_id"), F.col("score")), order
    ).alias("__top")
    return (
        j.groupBy(field).agg(top)
        .select(
            F.col("__top.doc_id").alias("doc_id"),
            F.col("__top.score").alias("score"),
            field,
        )
    )


def _compile_bool(searcher, body: dict, scoring: bool, emb=None) -> _Compiled:
    must = [
        _compile(searcher, c, scoring, emb=emb)
        for c in _as_clauses(body.get("must"))
    ]
    should = [
        _compile(searcher, c, scoring, emb=emb)
        for c in _as_clauses(body.get("should"))
    ]
    filt = [
        _compile(searcher, c, scoring=False, emb=emb)
        for c in _as_clauses(body.get("filter"))
    ]
    nots = [
        _compile(searcher, c, scoring=False, emb=emb)
        for c in _as_clauses(body.get("must_not"))
    ]
    if not (must or should or filt):
        # ES: a must_not-only bool is match_all minus the negations
        # (filter context, score 0); a fully EMPTY bool is match_all
        base_ids = searcher.match_all_ids()
        for c in nots:
            base_ids = base_ids.join(_ids(c), "doc_id", "left_anti")
        return _Compiled(None, base_ids)

    # Gates without a scorer: filter clauses and gate-only must clauses
    # (range / exists / ids ...). A scored must clause gates by being
    # COUNTED in the must aggregation below, so its scorer runs once.
    gates = [_ids(c) for c in must if c.scores is None] + [
        _ids(c) for c in filt
    ]
    must_parts = [(c.scores, c.one_per_doc) for c in must if c.scores is not None]
    should_parts = [
        (c.scores, c.one_per_doc) for c in should if c.scores is not None
    ]
    if must_parts:
        # the hit set is the scored musts' (each counted) and the gates'
        base = _summed(must_parts, floor=len(must_parts))
    else:
        should_floor = _should_floor(body, should, gated=bool(gates))
        # a filter-context clause inside should (range/exists/ids/terms —
        # gate-only, no scores) still ADMITS its docs to the hit set in
        # ES; it just contributes 0 to the score sum. Without this, a doc
        # matching only such a should clause silently vanishes. Only when
        # the bool scores — in filter context a gate-only bool must stay
        # a pure gate (callers like constant_score require inner.gate).
        if scoring or should_parts:
            should_parts += [
                (c.gate.select("doc_id", F.lit(0.0).alias("score")), False)
                for c in should if c.scores is None
            ]
        if not should_parts:
            return _gate_bool(body, gates, should, nots)
        # Scale: every should frame semi-joins the gates BEFORE the score
        # aggregation, so a corpus-sized should frame is cut to the hit
        # set first (semantically a no-op: the gates re-apply below).
        pre_gate = None
        for g in gates:
            pre_gate = g if pre_gate is None else pre_gate.join(
                g, "doc_id", "left_semi"
            )
        if pre_gate is not None:
            should_parts = [
                (f_.join(pre_gate, "doc_id", "left_semi"), one)
                for f_, one in should_parts
            ]
            if not should_floor:
                # optional shoulds: every gated doc is a hit, scored by
                # its should sum (0 where none matches) — the gate joins
                # the union as a 0-score frame that it bounds
                should_parts.append(
                    (pre_gate.select("doc_id", F.lit(0.0).alias("score")), False)
                )
        base = _summed(should_parts, floor=should_floor)
    for g in gates:
        base = base.join(g, "doc_id", "left_semi")
    for c in nots:
        base = base.join(_ids(c), "doc_id", "left_anti")
    if must_parts and should_parts:
        # beside musts a should clause only adds score to the must hits:
        # its rows are left-joined onto the hit-sized must result and
        # summed there, so a corpus-sized should frame (rank_feature /
        # distance_feature read the whole docmap) never enters an
        # aggregation whole, and no must scorer runs a second time. One
        # should frame of one row per doc needs no aggregation at all.
        extra = None
        for frame, _ in should_parts:
            f_ = frame.select("doc_id", F.col("score").alias("__s"))
            extra = f_ if extra is None else extra.unionByName(f_)
        base = base.join(extra, "doc_id", "left")
        if len(should_parts) > 1 or not should_parts[0][1]:
            base = base.groupBy("doc_id", "score").agg(
                F.sum("__s").alias("__s")
            )
        base = base.select("doc_id", (
            F.col("score") + F.coalesce(F.col("__s"), F.lit(0.0))
        ).alias("score"))
    # ES: a bool-level boost multiplies the whole bool's summed score
    b_boost = float(body.get("boost", 1.0))
    if b_boost != 1.0:
        base = base.withColumn("score", F.col("score") * b_boost)
    return _Compiled(base, None, one_per_doc=True)


def _summed(parts, floor: int) -> DataFrame:
    """One (doc_id, score) row per doc: the score summed over the frames
    ``parts`` [(frame, one row per doc)], kept where the doc is in at
    least ``floor`` of them. The count comes from the same aggregation,
    and a lone frame that already holds one row per doc needs none."""
    if len(parts) == 1 and floor <= 1:
        frame, one_per_doc = parts[0]
        if one_per_doc:
            return frame.select("doc_id", "score")
        return frame.groupBy("doc_id").agg(F.sum("score").alias("score"))
    union = None
    for frame, one_per_doc in parts:
        if floor > 1 and not one_per_doc:
            # a frame repeating a doc would count more than once
            frame = frame.groupBy("doc_id").agg(F.sum("score").alias("score"))
        f_ = frame.select("doc_id", "score")
        union = f_ if union is None else union.unionByName(f_)
    if floor <= 1:
        return union.groupBy("doc_id").agg(F.sum("score").alias("score"))
    return (
        union.groupBy("doc_id")
        .agg(F.sum("score").alias("score"), F.count("*").alias("__n"))
        .filter(F.col("__n") >= floor)
        .select("doc_id", "score")
    )


def _ids(comp: _Compiled) -> DataFrame:
    """A compiled clause's hit set (doc_id)."""
    return (comp.gate if comp.gate is not None else comp.scores).select(
        "doc_id"
    )


def _should_floor(body: dict, should, gated: bool) -> int:
    """How many ``should`` clauses a hit must match. ES 7.x defaults
    minimum_should_match to 1 in a bool with no must or filter clause
    (``gated`` False) and to 0 beside one; an explicit value always
    applies (and may resolve to 0 beside a must or filter)."""
    if not should:
        return 0
    msm = body.get("minimum_should_match")
    if msm is None:
        return 0 if gated else 1
    return _min_should_match(msm, len(should), lowest=0 if gated else 1)


def _gate_bool(body: dict, gates, should, nots) -> _Compiled:
    """A bool with no score frame (filter context): its hit set from the
    must/filter gates and >= ``_should_floor`` should clauses, minus
    must_not."""
    ok = None
    floor = _should_floor(body, should, gated=bool(gates))
    if floor:
        # a should-only bool of pure filter clauses (e.g.
        # {bool:{should:[{range:...}]}}) is the docs satisfying >= msm
        # should clauses — ES does not reject it
        union = _ids(should[0]).distinct()
        for c in should[1:]:
            union = union.unionByName(_ids(c).distinct())
        ok = (
            union.groupBy("doc_id")
            .agg(F.count("*").alias("m"))
            .filter(F.col("m") >= floor)
            .select("doc_id")
        )
    if not gates:
        if ok is None:
            raise DSLError("bool resolved to no concrete hit set")
        base = ok
    else:
        base = gates[0].distinct()
        for g in gates[1:]:
            base = base.join(g, "doc_id", "left_semi")
        if ok is not None:
            base = base.join(ok, "doc_id", "left_semi")
    for c in nots:
        base = base.join(_ids(c), "doc_id", "left_anti")
    return _Compiled(None, base)


def _collect_match_terms(clause) -> list[str]:
    """Analyzed terms of every full-text leaf in a query tree — what the
    highlighter marks up (ES highlights the query's text terms; pure
    filter-context leaves like range/ids/exists contribute nothing)."""
    from kafka_es_spark.functions.tokenize import tokenize_py

    out: list[str] = []
    if isinstance(clause, dict):
        for kind, spec in clause.items():
            if kind in (
                "match", "match_phrase", "match_phrase_prefix",
                "match_bool_prefix",
            ):
                v = next(iter(spec.values()))
                q = v.get("query") if isinstance(v, dict) else v
                out.extend(tokenize_py(str(q)))
            elif kind in ("multi_match", "combined_fields", "query_string",
                          "simple_query_string"):
                out.extend(tokenize_py(str(spec.get("query", ""))))
            elif kind == "term":
                fld, v = next(iter(spec.items()))
                val = v.get("value") if isinstance(v, dict) else v
                if isinstance(val, str):
                    out.extend(tokenize_py(val))
            else:
                out.extend(_collect_match_terms(spec))
    elif isinstance(clause, list):
        for c in clause:
            out.extend(_collect_match_terms(c))
    return out


def _apply_highlight(searcher, out: DataFrame, body: dict,
                     docs_text: DataFrame) -> DataFrame:
    """The body's ``highlight`` section: a snippet column centered on the
    first occurrence of any query text term, over the PAGE rows only
    (the join and the instr probes run on k rows, never the corpus).
    Mirrors Searcher.highlight_topk's deterministic
    first-occurrence/window discipline."""
    spec = body["highlight"]
    fields = spec.get("fields") or {}
    if list(fields) != ["text"]:
        raise DSLError(
            "highlight supports exactly the 'text' field "
            f"(got {sorted(fields)})"
        )
    fragment = int((fields["text"] or {}).get("fragment_size", 80))
    qterms = sorted(set(_collect_match_terms(body.get("query"))))
    if not qterms:
        raise DSLError(
            "highlight needs at least one full-text leaf in the query "
            "(filter-context-only bodies have no terms to mark)"
        )
    window = max(1, fragment // 2)
    added_url = "url" not in out.columns
    if added_url:
        dm = searcher.docmap.select("doc_id", "url")
        out = out.join(dm, "doc_id")
    # LEFT join: ES never drops a hit because highlighting found no text
    # for it — the hit keeps its rank with a null snippet (the inner-join
    # alternative silently empties the page when the docs_text relation
    # doesn't cover the index's urls, a hard-to-diagnose mismatch)
    j = out.join(docs_text.select("url", "text"), "url", "left")
    big = F.lit(2_000_000_000)
    lower_t = F.lower(F.col("text"))
    ps = [
        F.when(F.instr(lower_t, F.lit(t)) > 0, F.instr(lower_t, F.lit(t)))
        .otherwise(big)
        for t in qterms
    ]
    first = ps[0] if len(ps) == 1 else F.least(*ps)
    start = F.greatest(F.lit(1), first - F.lit(window))
    snip = F.when(
        first < big, F.substring(F.col("text"), start, F.lit(fragment))
    ).otherwise(F.substring(F.col("text"), F.lit(1), F.lit(fragment)))
    drop = {"text", "url"} if added_url else {"text"}
    keep = [c for c in out.columns if c not in drop]
    return j.select(*keep, snip.alias("snippet")).orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )


def _apply_source(searcher, out: DataFrame, source) -> DataFrame:
    """The body's ``_source`` section: ``false`` strips everything but
    the hit identity + score; a list of field names fetches those STORED
    docmap columns (the doc-values tier — this engine stores no original
    JSON, so includes resolve against the docmap and unknown names fail
    loudly rather than returning empty hits)."""
    if source is False:
        keep = [c for c in ("doc_id", "score") if c in out.columns]
        return out.select(*keep)
    if isinstance(source, str):
        source = [source]
    if not isinstance(source, list):
        raise DSLError("_source must be false or a field-name list")
    dm = searcher.docmap
    missing = [f for f in source if f not in dm.columns]
    if missing:
        raise DSLError(
            f"_source fields {missing} are not stored in this index's "
            f"docmap (stored: {sorted(set(dm.columns) - {'doc_id'})})"
        )
    new = [f for f in source if f not in out.columns]
    return out.join(dm.select("doc_id", *new), "doc_id", "left").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )


def search(
    searcher,
    body: dict,
    k: int | None = None,
    round_to: int | None = 4,
    fetch_k: int | None = None,
    with_url: bool = False,
    embeddings: DataFrame | None = None,
    docs_text: DataFrame | None = None,
) -> DataFrame:
    """Run an ES ``_search`` request body. ``size`` (or ``k``) caps the
    response; scoring bodies rank (score desc, doc_id asc), pure
    filter-context bodies (constant 0 scores) order by doc_id — pass a
    ``constant_score`` wrapper for explicit scores.

    An ES 8 top-level ``knn`` section routes to the exact-cosine tier
    (``similarity.cosine_topk``) over the caller-supplied ``embeddings``
    relation (vec_id, embedding) — the index stores no vectors by
    design; a body with BOTH query and knn raises (score fusion is the
    ``rrf_fuse``/``linear_fuse`` operators' job, kept explicit)."""
    knn = body.get("knn")
    query = body.get("query")
    if knn is not None:
        if query is not None:
            rank = body.get("rank")
            if isinstance(rank, dict) and "rrf" in rank:
                # ES-8 hybrid: the body's rank.rrf section fuses the
                # query retriever's and the knn retriever's top windows
                # by reciprocal-rank (the rrf_fuse operator); anything
                # else stays an explicit operator choice
                return _hybrid_rrf(
                    searcher, body, embeddings, round_to,
                    k if k is not None else None,
                )
            raise DSLError(
                "query + knn hybrid fusion needs the body's rank.rrf "
                "section (ES 8), or run both and combine with "
                "similarity.rrf_fuse / linear_fuse explicitly"
            )
        if embeddings is None:
            raise DSLError("knn search needs the embeddings relation")
        from kafka_es_spark.operators.similarity import cosine_topk

        flt = knn.get("filter")
        if flt is not None:
            # ES-8 pre-filtered kNN: the filter-context clause gates the
            # candidate set BEFORE scoring (ES guarantees k hits from
            # the filtered set — a post-filter of an unfiltered top-k
            # can return fewer). The gate lives in the index's internal
            # id space and maps to embedding rows through the docmap's
            # url: directly when the embeddings relation carries a
            # `url` column, else via the corpus id in a doc://<id> url
            # (the build-job convention for the driver corpus). One
            # semi-join; gate size tracks filter selectivity, so the
            # join strategy is left to AQE (a selective gate
            # broadcasts, an unselective one must not).
            gate = _ids(_compile(searcher, flt, scoring=False))
            dm = searcher.docmap.select("doc_id", "url")
            urls = gate.join(dm, "doc_id")
            if "url" in embeddings.columns:
                embeddings = embeddings.join(
                    urls.select("url"), "url", "left_semi"
                )
            else:
                keep = urls.select(
                    F.regexp_extract("url", r"doc://(\d+)", 1)
                    .cast("long").alias("vec_id")
                )
                embeddings = embeddings.join(keep, "vec_id", "left_semi")
        qv = knn["query_vector"]
        # query_id -1: cosine_topk excludes self by id, and an external
        # query vector must never mask a corpus vector's id
        qdf = local_frame(
            searcher.spark, [(-1, [float(x) for x in qv])],
            "query_id long, qvec array<double>",
        )
        return cosine_topk(
            embeddings, qdf,
            k=int(knn.get("k", body.get("size", 10))),
            similarity=knn.get("similarity"),
            round_to=round_to if round_to is not None else 4,
        ).drop("query_id")
    if query is None:
        # ES: an omitted query is match_all — the aggregation-only
        # request ({"size": 0, "aggs": ...}) is the canonical case
        query = {"match_all": {}}
    size = int(k if k is not None else body.get("size", 10))
    delegated = {"match_phrase", "match_phrase_prefix", "query_string",
                 "simple_query_string"}
    if isinstance(query, dict) and len(query) == 1 and \
            next(iter(query)) in delegated:
        # top-level scoring forms served whole by their dedicated
        # engines (phrase-weighted BM25 over the postings' positions;
        # the query-string mini-language compilers). Render sections
        # don't compose with a delegated top-k, so only query/size are
        # admitted here; inside bool these stay filter-context.
        kind = next(iter(query))
        extra = set(body) - {"query", "size"}
        if extra:
            raise DSLError(
                f"top-level {kind} supports only 'size' alongside "
                f"'query' (got {sorted(extra)}); compose it inside "
                "bool filter to combine with other sections"
            )
        rt = round_to if round_to is not None else 4
        if kind in ("match_phrase", "match_phrase_prefix"):
            field, spec = _single(query[kind], kind)
            if field != "text":
                raise DSLError(f"{kind} targets the analyzed 'text' field")
            q = spec["query"] if isinstance(spec, dict) else spec
            if kind == "match_phrase":
                from kafka_es_spark.operators.positions import phrase_topk

                slop = (
                    int(spec.get("slop", 0)) if isinstance(spec, dict) else 0
                )
                return phrase_topk(
                    searcher.spark, searcher.index_dir, q, k=size,
                    slop=slop, round_to=rt, with_url=with_url,
                )
            from kafka_es_spark.operators.positions import phrase_prefix_topk

            exp = (
                int(spec.get("max_expansions", 50))
                if isinstance(spec, dict) else 50
            )
            return phrase_prefix_topk(
                searcher.spark, searcher.index_dir, q, k=size,
                max_expansions=exp, round_to=rt, with_url=with_url,
            )
        spec = query[kind]
        if not isinstance(spec, dict) or "query" not in spec:
            raise DSLError(f"{kind} needs {{query: ...}}")
        flds = spec.get("fields") or (
            [spec["default_field"]] if spec.get("default_field") else None
        )
        if flds is not None and list(flds) != ["text"]:
            raise DSLError(
                f"{kind} targets the analyzed 'text' field only "
                f"(got fields={flds!r})"
            )
        if kind == "query_string":
            return searcher.query_string_topk(
                spec["query"], k=size, round_to=rt, with_url=with_url,
                max_expansions=int(spec.get("max_expansions", 50)),
                slop=int(spec.get("phrase_slop", 0)),
            )
        return searcher.simple_query_string_topk(
            spec["query"],
            default_operator=str(spec.get("default_operator", "or")).lower(),
            k=size, round_to=rt, with_url=with_url,
            max_expansions=int(spec.get("max_expansions", 50)),
        )
    comp = _compile(searcher, query, scoring=True, emb=embeddings)
    out = comp.scores
    if out is None:
        out = comp.gate.select(
            "doc_id", F.lit(0.0).alias("score")
        )
    if searcher.persistent_excluded:
        out = out.filter(
            ~F.col("doc_id").isin(sorted(searcher.persistent_excluded))
        )
    # top-level min_score excludes docs from hits AND aggregations
    # (query-phase cutoff, compared on the raw score like ES)
    if body.get("min_score") is not None:
        out = out.filter(F.col("score") >= float(body["min_score"]))
    aggs = body.get("aggs") or body.get("aggregations")
    if aggs:
        return _run_aggs(searcher, out, aggs, docs_text=docs_text)
    # post_filter narrows the HITS only, after the aggregation phase —
    # the faceted-navigation contract: facets show the whole hit set,
    # the page shows the user's current facet selection. Filter-context
    # compile (never rescored), one semi-join, applied before
    # total_hits/paging so hits.total reflects the post-filtered set
    # (ES behavior).
    pf = body.get("post_filter")
    if pf is not None:
        pgate = _ids(_compile(searcher, pf, scoring=False))
        out = out.join(pgate, "doc_id", "left_semi")
    offset = int(body.get("from", 0))
    sort = body.get("sort")
    if sort:
        # an explicit _score sort is ES's spelled-out default order:
        # ["_score"] / [{"_score": "desc"}] → the normal ranking (ties
        # break by doc_id). Ascending score or _score composed with
        # field keys fail loudly rather than mis-rank.
        specs = sort if isinstance(sort, list) else [sort]

        def _sort_key(spec):
            if isinstance(spec, str):
                return spec, ("desc" if spec == "_score" else "asc")
            f, o = _single(spec, "sort")
            return f, (o.get("order", "desc" if f == "_score" else "asc")
                       if isinstance(o, dict) else o)

        if any(_sort_key(sp)[0] == "_score" for sp in specs):
            if len(specs) > 1:
                raise DSLError(
                    "_score combines with no other sort keys here "
                    "(score ties already break by doc_id)"
                )
            if _sort_key(specs[0])[1] == "asc":
                raise DSLError("sort by _score ascending is not supported")
            sort = None
    after = body.get("search_after")
    tth = bool(body.get("track_total_hits", False))
    src = body.get("_source")
    hl = body.get("highlight")
    if sort and (
        tth
        or after is not None
        or hl is not None
        or (src is not None and src is not True)
    ):
        raise DSLError(
            "sort-by-field combines with none of search_after / "
            "track_total_hits / highlight / _source here — sorted hits "
            "already carry the sort field; fetch extras via mget on the "
            "returned doc_ids"
        )
    # total_hits is the FULL hit-set size — matching docs after
    # excludes, before rescore-window/collapse/paging (ES counts docs,
    # not collapsed groups) — counted in-plan and broadcast onto every
    # returned hit row, never collected driver-side
    tot = out.agg(F.count(F.lit(1)).alias("total_hits")) if tth else None
    resc = body.get("rescore")
    if resc is not None:
        if sort:
            raise DSLError("rescore cannot combine with sort (ES contract)")
        out = _apply_rescore(searcher, out, resc)
    collapse = body.get("collapse")
    if collapse is not None:
        if sort:
            raise DSLError(
                "collapse with sort-by-field is not supported; collapse "
                "ranks groups by their best score (the ES default order)"
            )
        out = _apply_collapse(searcher, out, collapse)
    if sort:
        # sort-by-stored-field (doc-values sort, track_scores=false):
        # hit set -> field join -> TakeOrdered; deterministic doc_id
        # tie-break; `from` pages the same total order (search_after is
        # the deep-pagination tier)
        spec = sort[0] if isinstance(sort, list) else sort
        if isinstance(spec, str):
            field, order = spec, "asc"
        else:
            field, o = _single(spec, "sort")
            order = o.get("order", "asc") if isinstance(o, dict) else o
        dm = searcher.docmap
        if field not in dm.columns:
            raise DSLError(f"sort field {field!r} is not stored")
        j = out.select("doc_id").join(dm.select("doc_id", field), "doc_id")
        key = F.col(field).desc() if order == "desc" else F.col(field).asc()
        j = j.orderBy(key, F.col("doc_id").asc())
        if offset:
            j = j.offset(offset)
        return j.limit(size)
    if after is not None:
        # deep pagination keyed on the ROUNDED serving (score, doc_id)
        # cursor — the cursor a client passes back is what page N-1
        # showed, so the comparison must round identically (mirrors
        # Searcher.search_after_topk; `from` is the shallow tier and
        # the two never combine, per ES)
        if offset:
            raise DSLError(
                "search_after and from are mutually exclusive (ES contract)"
            )
        if not isinstance(after, (list, tuple)) or len(after) != 2:
            raise DSLError("search_after needs a [score, doc_id] cursor")
        rt = round_to if round_to is not None else 4
        rs = F.round(F.col("score"), rt)
        res = (
            out.withColumn("score", rs)
            .filter(
                (F.col("score") < F.lit(float(after[0])))
                | (
                    (F.col("score") == F.lit(float(after[0])))
                    & (F.col("doc_id") > F.lit(int(after[1])))
                )
            )
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(size)
        )
        if with_url:
            dm = searcher.docmap.select("doc_id", "url")
            res = res.join(dm, "doc_id").orderBy(
                F.col("score").desc(), F.col("doc_id").asc()
            )
    elif offset:
        # one total order for ALL pages: rank by the RAW score (exactly
        # like page 0's _finish_topk) and round only after the cut —
        # rounding first lets near-tied docs swap rank between pages,
        # duplicating/omitting hits across a paged scroll
        res = (
            out.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .offset(offset)
            .limit(size)
        )
        if round_to is not None:
            res = res.withColumn("score", F.round("score", round_to))
    else:
        res = searcher._finish_topk(out, size, round_to, fetch_k, with_url)
    if src is not None and src is not True:
        res = _apply_source(searcher, res, src)
    if hl is not None:
        if docs_text is None:
            raise DSLError(
                "highlight needs the docs_text relation (url, text) — "
                "this index stores no original text by design"
            )
        res = _apply_highlight(searcher, res, body, docs_text)
    if tot is not None:
        res = res.crossJoin(F.broadcast(tot))
    return res


def _hybrid_rrf(
    searcher, body: dict, embeddings, round_to, k
) -> DataFrame:
    """ES-8 ``rank: {rrf: {...}}`` hybrid search: the lexical query's
    top rank_window_size and the knn retriever's top window fuse by
    reciprocal rank (Σ 1/(rank_constant + rank), missing lists
    contribute nothing — similarity.rrf_fuse). Both rank relations are
    window-sized, so fusion is reduce-phase work; the knn side requires
    the embeddings relation to be keyed by doc_id (the retrievers must
    rank one id space, exactly ES's _id contract)."""
    from pyspark.sql import Window

    from kafka_es_spark.operators.similarity import cosine_topk, rrf_fuse

    if embeddings is None:
        raise DSLError("knn search needs the embeddings relation")
    rrf = body["rank"]["rrf"] or {}
    size = int(k if k is not None else body.get("size", 10))
    window = int(rrf.get("rank_window_size", max(size, 10)))
    k_rrf = int(rrf.get("rank_constant", 60))

    comp = _compile(searcher, body["query"], scoring=True)
    lex = _inner_scores(searcher, comp)
    if searcher.persistent_excluded:
        lex = lex.filter(
            ~F.col("doc_id").isin(sorted(searcher.persistent_excluded))
        )
    # TakeOrdered the big hit relation down to the window FIRST, then
    # rank the ≤window-row result — a row_number window straight over
    # the full hit set would drag every hit through one partition
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    lex_rank = (
        lex.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(window)
        .withColumn("rank", F.row_number().over(w))
        .select("doc_id", "rank")
    )

    knn = body["knn"]
    qdf = local_frame(
        searcher.spark, [(-1, [float(x) for x in knn["query_vector"]])],
        "query_id long, qvec array<double>",
    )
    knn_rank = cosine_topk(
        embeddings, qdf, k=int(knn.get("k", window)),
        similarity=knn.get("similarity"),
    ).select(F.col("vec_id").alias("doc_id"), "rank")

    fused = rrf_fuse([lex_rank, knn_rank], k=size, k_rrf=k_rrf)
    out = fused.select(
        "doc_id", F.col("rrf_score").alias("score")
    )
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    return out.orderBy(F.col("score").desc(), F.col("doc_id").asc())


def _apply_rescore(searcher, out: DataFrame, resc) -> DataFrame:
    """The body's ``rescore`` section: re-rank the top ``window_size``
    hits by a second query — the classic use is a cheap OR-match first
    pass then a phrase / script second pass over the window only. ES
    semantics kept exactly: window docs score ``query_weight * orig
    [+|*|…] rescore_query_weight * rescore_score`` (docs the rescore
    query misses keep query_weight * orig), docs OUTSIDE the window
    keep their ORIGINAL score (the documented ES discontinuity when
    query_weight != 1), and everything re-sorts together. Multiple
    rescores chain, each over the previous result. The rescore query's
    cost is bounded by its own clause (e.g. phrase_match_ids' pruned
    positional scan), never window_size × corpus."""
    specs = resc if isinstance(resc, list) else [resc]
    for spec in specs:
        w = int(spec.get("window_size", 10))
        q = spec.get("query")
        if not isinstance(q, dict) or "rescore_query" not in q:
            raise DSLError("rescore needs query.rescore_query")
        qw = float(q.get("query_weight", 1.0))
        rqw = float(q.get("rescore_query_weight", 1.0))
        mode = q.get("score_mode", "total")
        rcomp = _compile(searcher, q["rescore_query"], scoring=True)
        rs = _inner_scores(searcher, rcomp).withColumnRenamed(
            "score", "_rescore"
        )
        window = out.orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        ).limit(w)
        rest = out.join(window.select("doc_id"), "doc_id", "left_anti")
        j = window.join(rs, "doc_id", "left")
        base = F.col("score") * qw
        radd = F.col("_rescore") * rqw
        combined = {
            "total": base + radd,
            "multiply": base * radd,
            "avg": (base + radd) / 2,
            "max": F.greatest(base, radd),
            "min": F.least(base, radd),
        }.get(mode)
        if combined is None:
            raise DSLError(f"rescore score_mode {mode!r}")
        j = j.select(
            "doc_id",
            F.when(F.col("_rescore").isNotNull(), combined)
            .otherwise(base).alias("score"),
        )
        out = j.unionByName(rest.select("doc_id", "score"))
    return out


_METRIC_SUBAGGS = {
    "avg": lambda f: F.round(F.avg(f), 4),
    "sum": lambda f: F.sum(f).cast("long"),
    "min": lambda f: F.min(f),
    "max": lambda f: F.max(f),
    "value_count": lambda f: F.count(f),
}


def _sub_agg_exprs(spec: dict, dm_cols) -> list:
    """The ``aggs`` block nested under a bucket agg: named metric
    sub-aggregations (avg/sum/min/max/value_count over a stored field),
    each one more expression in the SAME hash aggregation as doc_count —
    sub-aggs never add a shuffle or a second pass over the hit set."""
    exprs = []
    for name, sub in spec.items():
        skind, sparams = _single(sub, f"sub-agg {name!r}")
        fn = _METRIC_SUBAGGS.get(skind)
        if fn is None:
            raise DSLError(
                f"sub-agg {name!r}: unsupported type {skind!r} "
                f"(metric sub-aggs: {sorted(_METRIC_SUBAGGS)})"
            )
        sfield = sparams["field"]
        if sfield not in dm_cols:
            raise DSLError(
                f"sub-agg field {sfield!r} is not stored in this "
                "index's docmap"
            )
        exprs.append(fn(sfield).alias(name))
    return exprs


def _run_aggs(
    searcher, hits: DataFrame, aggs: dict, docs_text: DataFrame | None = None
) -> DataFrame:
    """The body's ``aggs`` section over the query's FULL hit set (never
    the size-capped page — ES aggregates all matching docs). Supported:
    one terms/histogram/stats agg over a stored field, with named
    metric sub-aggs under terms/histogram buckets; richer shapes stay
    on the dedicated Searcher methods this routes to."""
    # ES allows N sibling aggs per request; when they are ALL metric
    # aggs (one or many) the response is one row with one column per
    # agg name — still a single hash aggregation over the hit set
    if aggs and all(
        isinstance(a, dict) and len(a) == 1
        and next(iter(a)) in _METRIC_SUBAGGS
        for a in aggs.values()
    ):
        dm = searcher.docmap
        exprs = _sub_agg_exprs(aggs, dm.columns)
        need = sorted(
            {s["field"] for a in aggs.values() for s in a.values()}
        )
        return (
            hits.select("doc_id")
            .join(dm.select("doc_id", *need), "doc_id")
            .agg(*exprs)
        )
    if len(aggs) != 1:
        raise DSLError(
            "multiple top-level aggs are supported only when all are "
            f"metric aggs ({sorted(_METRIC_SUBAGGS)}); bucket aggs go "
            "one per request"
        )
    _, spec = _single(aggs, "aggs")
    spec = dict(spec)
    sub_spec = spec.pop("aggs", {})
    kind, params = _single(spec, "agg spec")
    dm = searcher.docmap

    if kind == "filters":
        # named filter buckets: each filter compiles in filter context
        # and counts its intersection with the hit set — one semi-join +
        # count per named filter, all window/clause-sized
        named = params.get("filters")
        if not isinstance(named, dict) or not named:
            raise DSLError("filters agg needs filters.{name: clause}")
        parts = []
        for name in sorted(named):
            gate = _ids(_compile(searcher, named[name], scoring=False))
            parts.append(
                hits.select("doc_id")
                .join(gate, "doc_id", "left_semi")
                .agg(F.count(F.lit(1)).alias("doc_count"))
                .select(F.lit(name).alias("bucket"), "doc_count")
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.orderBy("bucket")

    if kind == "composite":
        # paginated multi-source terms: groupBy every source field, key
        # order is the pagination order, the after cursor lexicographic-
        # filters, size caps the page. One hash aggregation regardless
        # of source count; pagination never re-aggregates prior pages.
        sources = params.get("sources")
        if not isinstance(sources, list) or not sources:
            raise DSLError("composite needs sources[]")
        names, cols = [], []
        for s in sources:
            name, sdef = _single(s, "composite source")
            skind, sparams = _single(sdef, "composite source def")
            if skind != "terms":
                raise DSLError(
                    f"composite source {name!r}: only terms sources here"
                )
            f_ = sparams["field"]
            if f_ not in dm.columns:
                raise DSLError(f"composite field {f_!r} is not stored")
            names.append(name)
            cols.append(f_)
        size = int(params.get("size", 10))
        j2 = hits.select("doc_id").join(dm.select("doc_id", *cols), "doc_id")
        agg = j2.groupBy(
            *[F.col(c).alias(n) for c, n in zip(cols, names)]
        ).agg(F.count("*").alias("doc_count"))
        after = params.get("after")
        if after is not None:
            # strictly-after in the composite key order: lexicographic
            # (k1 > a1) OR (k1 = a1 AND k2 > a2) OR ...
            conds = []
            for i, n in enumerate(names):
                eqs = [F.col(names[j]) == F.lit(after[names[j]]) for j in range(i)]
                gt = F.col(n) > F.lit(after[n])
                c = gt
                for e in eqs:
                    c = c & e
                conds.append(c)
            cond = conds[0]
            for c in conds[1:]:
                cond = cond | c
            agg = agg.filter(cond)
        return agg.orderBy(*[F.col(n).asc() for n in names]).limit(size)

    if kind == "significant_text":
        # ES significant_text agg: terms over-represented in the hit
        # set vs the whole index, JLH-scored ((fg%−bg%)·(fg%/bg%), the
        # ES default heuristic). Foreground df re-tokenizes the HIT
        # docs only (the significant_text contract — it analyzes
        # _source text, no term vectors needed); background df is the
        # index's own term_stats — no second corpus pass. Mirrors
        # Searcher.significant_terms exactly (pytest pins identity).
        from kafka_es_spark.functions.tokenize import tokens

        if params.get("field", "text") != "text":
            raise DSLError("significant_text targets the 'text' field")
        if docs_text is None:
            raise DSLError(
                "significant_text needs the docs_text relation (url, "
                "text) — this index stores no original text by design"
            )
        size = int(params.get("size", 10))
        mdc = int(params.get("min_doc_count", 3))
        j2 = (
            hits.select("doc_id")
            .join(dm.select("doc_id", "url"), "doc_id")
            .join(docs_text.select("url", "text"), "url")
        )
        n_fg = j2.count()
        if n_fg == 0:
            return local_frame(
                searcher.spark, [],
                "term string, fg_count long, bg_count long, "
                "sig_score double",
            )
        fg = (
            j2.select(
                F.explode(F.array_distinct(tokens("text"))).alias("term")
            )
            .groupBy("term")
            .agg(F.count("*").alias("fg_count"))
            .filter(F.col("fg_count") >= mdc)
        )
        bg = searcher.term_stats.select(
            "term", F.col("df").alias("bg_count")
        )
        fgp = F.col("fg_count") / F.lit(float(n_fg))
        bgp = F.col("bg_count") / F.lit(float(searcher.n_docs))
        return (
            fg.join(bg, "term")
            .withColumn("sig_score", F.round((fgp - bgp) * (fgp / bgp), 4))
            .orderBy(F.col("sig_score").desc(), F.col("term").asc())
            .limit(size)
        )

    if kind in ("filter", "global"):
        # single-bucket aggs: ``filter`` narrows the hit set by one
        # filter-context clause, ``global`` ignores the query and
        # aggregates the whole live corpus (the ES all-docs bucket).
        # doc_count plus any metric sub-aggs ride ONE hash aggregation.
        if kind == "filter":
            if not isinstance(params, dict) or not params:
                raise DSLError("filter agg needs a filter clause")
            gate = _ids(_compile(searcher, params, scoring=False))
            base = hits.select("doc_id").join(gate, "doc_id", "left_semi")
        else:
            base = searcher.match_all_ids().select("doc_id")
        exprs = [F.count(F.lit(1)).alias("doc_count")]
        if sub_spec:
            exprs += _sub_agg_exprs(sub_spec, dm.columns)
            need = sorted(
                {s["field"] for a in sub_spec.values() for s in a.values()}
            )
            base = base.join(dm.select("doc_id", *need), "doc_id")
        return base.agg(*exprs)

    field = params["field"]
    if field not in dm.columns:
        raise DSLError(
            f"agg field {field!r} is not stored in this index's docmap"
        )
    if sub_spec and kind not in ("terms", "histogram"):
        raise DSLError(f"sub-aggs nest under terms/histogram, not {kind!r}")
    top_hits_spec = None
    if kind == "terms" and sub_spec:
        th = {
            n: s for n, s in sub_spec.items()
            if isinstance(s, dict) and "top_hits" in s
        }
        if th:
            if len(sub_spec) != 1:
                raise DSLError(
                    "a top_hits sub-agg nests alone under terms here "
                    "(mixing with metric sub-aggs is not supported)"
                )
            top_hits_spec = next(iter(th.values()))["top_hits"]
            sub_spec = {}
    subs = _sub_agg_exprs(sub_spec, dm.columns)
    need = sorted(
        {field} | {s["field"] for a in sub_spec.values() for s in a.values()}
    )
    j = hits.select("doc_id").join(dm.select("doc_id", *need), "doc_id")
    if kind == "terms" and top_hits_spec is not None:
        # terms + top_hits: per-bucket best hits. The window partitions
        # BY THE BUCKET KEY — per-bucket local sorts, never a global
        # one; bucket selection is a (#distinct values)-row aggregate
        # broadcast back (Searcher.top_hits's exact plan shape).
        from pyspark.sql import Window

        if "score" not in hits.columns:
            raise DSLError("top_hits needs a scoring query")
        size = int(params.get("size", 10))
        per = int(top_hits_spec.get("size", 3))
        j2 = (
            hits.select("doc_id", "score")
            .join(dm.select("doc_id", "url", field), "doc_id")
            .withColumnRenamed(field, "value")
        )
        tb = (
            j2.groupBy("value").agg(F.count("*").alias("doc_count"))
            .orderBy(F.col("doc_count").desc(), F.col("value").asc())
            .limit(size)
        )
        w = Window.partitionBy("value").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        return (
            j2.join(F.broadcast(tb), "value")
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= per)
            .select(
                "value", "doc_count", "rnk", "url",
                F.round("score", 4).alias("score"),
            )
            .orderBy(
                F.col("doc_count").desc(), F.col("value").asc(),
                F.col("rnk").asc(),
            )
        )
    if kind == "terms":
        size = int(params.get("size", 10))
        key = F.col(field)
        if params.get("missing") is not None:
            # ES terms `missing`: docs lacking the field bucket under
            # the given substitute value instead of dropping out
            key = F.coalesce(key, F.lit(params["missing"]))
        agg = j.groupBy(key.alias("value")).agg(
            F.count("*").alias("doc_count"), *subs
        )
        if int(params.get("min_doc_count", 1)) > 1:
            agg = agg.filter(
                F.col("doc_count") >= int(params["min_doc_count"])
            )
        # ES terms `order`: _key / _count / a metric sub-agg name;
        # default doc_count desc. Key asc is always the tie-break —
        # bucket selection at the size cut stays deterministic.
        order = params.get("order")
        if order:
            oname, direction = _single(order, "terms order")
            ocol = {"_key": "value", "_count": "doc_count"}.get(oname, oname)
            if ocol not in agg.columns:
                raise DSLError(
                    f"terms order key {oname!r} is neither _key/_count "
                    "nor a sibling sub-agg name"
                )
            if direction not in ("asc", "desc"):
                raise DSLError("terms order direction must be asc|desc")
            lead = (
                F.col(ocol).asc() if direction == "asc"
                else F.col(ocol).desc()
            )
            return agg.orderBy(lead, F.col("value").asc()).limit(size)
        return agg.orderBy(
            F.col("doc_count").desc(), F.col("value").asc()
        ).limit(size)
    if kind == "histogram":
        iv = float(params["interval"])
        bucket = (F.floor(F.col(field) / iv) * iv).alias("bucket_key")
        return (
            j.groupBy(bucket)
            .agg(F.count("*").alias("doc_count"), *subs)
            .orderBy("bucket_key")
        )
    if kind == "stats":
        return j.agg(
            F.count(field).alias("n_docs_agg"),
            F.min(field).alias("min_v"),
            F.max(field).alias("max_v"),
            F.sum(field).cast("long").alias("sum_v"),
            F.round(F.avg(field), 4).alias("avg_v"),
        )
    if kind == "extended_stats":
        # ES extended_stats: stats + sum_of_squares / variance (POP) /
        # std_deviation — one hash aggregation, same as stats
        return j.agg(
            F.count(field).alias("n_docs_agg"),
            F.min(field).alias("min_v"),
            F.max(field).alias("max_v"),
            F.sum(field).cast("long").alias("sum_v"),
            F.round(F.avg(field), 4).alias("avg_v"),
            F.round(
                F.sum(F.col(field) * F.col(field)).cast("double"), 4
            ).alias("sum_sq"),
            F.round(F.var_pop(field), 4).alias("variance"),
            F.round(F.stddev_pop(field), 4).alias("std_dev"),
        )
    if kind == "cardinality":
        # ES cardinality is HLL++-approximate by design; the scale
        # default here mirrors Searcher.agg_cardinality
        # (approx_count_distinct), and precision_threshold -1 /
        # "exact": true switches to the exact shuffle-keyed count (what
        # an oracle can reproduce)
        exact = bool(params.get("exact", False))
        c = (
            F.count_distinct(field) if exact
            else F.approx_count_distinct(field)
        )
        return j.agg(c.cast("long").alias("value_count"))
    if kind == "value_count":
        return j.agg(F.count(field).cast("long").alias("value_count"))
    if kind in ("avg", "sum", "min", "max"):
        return j.agg(_METRIC_SUBAGGS[kind](field).alias(kind))
    if kind == "percentiles":
        pcts = [float(p) for p in params.get("percents", [25.0, 50.0, 75.0])]
        parr = F.array(*[F.lit(p) for p in pcts])
        exact = bool(params.get("exact", True))
        agg_fn = (
            F.percentile(field, F.array(*[F.lit(p / 100.0) for p in pcts]))
            if exact
            else F.percentile_approx(
                field, F.array(*[F.lit(p / 100.0) for p in pcts]),
                int(params.get("accuracy", 10000)),
            )
        )
        return (
            j.agg(agg_fn.alias("vals"))
            .select(F.posexplode("vals").alias("pos", "value"))
            .select(
                F.element_at(parr, F.col("pos") + 1).alias("pct"),
                F.round(F.col("value").cast("double"), 4).alias("value"),
            )
            .orderBy("pct")
        )
    if kind == "missing":
        return j.filter(F.col(field).isNull()).agg(
            F.count(F.lit(1)).alias("doc_count")
        )
    if kind == "median_absolute_deviation":
        # ES MAD agg (t-digest-approximate in ES): exact here —
        # median(|x − median(x)|) as a 1-row median pre-pass broadcast
        # back, then one aggregation (same plan the ES|QL MAD uses)
        med = j.agg(F.percentile(field, F.lit(0.5)).alias("__m"))
        return (
            j.crossJoin(F.broadcast(med))
            .agg(
                F.round(
                    F.percentile(
                        F.abs(F.col(field) - F.col("__m")), F.lit(0.5)
                    ),
                    4,
                ).alias("mad")
            )
        )
    if kind == "range":
        # ES range agg: half-open [from, to) buckets, each counted
        # independently (overlaps allowed); key = "from-to" with ES's
        # */bound spelling
        ranges = params.get("ranges")
        if not isinstance(ranges, list) or not ranges:
            raise DSLError("range agg needs ranges[]")
        parts = []
        for r in ranges:
            lo, hi = r.get("from"), r.get("to")
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col(field) >= float(lo))
            if hi is not None:
                cond = cond & (F.col(field) < float(hi))
            key = (
                f"{lo if lo is not None else '*'}-"
                f"{hi if hi is not None else '*'}"
            )
            parts.append(
                j.filter(cond)
                .agg(F.count(F.lit(1)).alias("doc_count"))
                .select(F.lit(key).alias("bucket"), "doc_count")
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.orderBy("bucket")
    if kind == "date_histogram":
        iv = params.get("calendar_interval") or params.get(
            "fixed_interval"
        )
        trunc = {
            "day": "day", "1d": "day", "hour": "hour", "1h": "hour",
            "month": "month", "1M": "month", "week": "week",
            "year": "year", "1y": "year", "minute": "minute",
            "1m": "minute",
        }.get(iv)
        if trunc is None:
            raise DSLError(
                f"date_histogram interval {iv!r} (day/hour/week/month/"
                "year/minute or 1d/1h/1M/1y/1m)"
            )
        return (
            j.groupBy(
                F.date_trunc(trunc, F.col(field)).alias("bucket_key")
            )
            .agg(F.count("*").alias("doc_count"))
            .orderBy("bucket_key")
        )
    raise DSLError(f"unsupported agg type {kind!r}")
