"""Oracle-checked KG-stage catalog (SURVEY.md J8/J10 + rows-only
entries for the neural tagger and the full pipeline).

- ``connected_components``: the production large-star/small-star loop
  over a graph derived from customer/supplier->nation edges, checked
  against a DuckDB RECURSIVE CTE transitive-closure oracle.
- ``gazetteer_mentions`` / ``link_best``: the production broadcast
  n-gram matcher and linking scorer over pseudo-tokens, checked against
  an inline-VALUES alias dictionary in pure SQL.
- ``neural_tag_spans`` / ``kg_triples``: genuinely non-SQL ops
  (BiLSTM-CRF inference; multi-stage pipeline) — rows-only checks.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from neuroner_spark.operators.components import connected_components
from neuroner_spark.operators.gazetteer import match_mentions
from neuroner_spark.operators.linking import link_mentions
from neuroner_spark.plans.catalog_ner import PSEUDO_TOKENS_CTE, pseudo_tokens

# Pinned dictionary over the documents corpus vocabulary: bigrams nest
# unigrams ('merge sort' contains 'sort') to exercise longest-match
# containment; 'spark' is ambiguous (2 entities) to exercise the
# prior x coherence scorer.
ALIAS_DICT = [
    # (alias, alias_norm, entity_id, canonical_name, prior)
    ("spark", "spark", 1, "Apache Spark", 0.7),
    ("spark", "spark", 2, "Spark Plug", 0.3),
    ("table scan", "table scan", 3, "Table Scan", 1.0),
    ("hash join", "hash join", 4, "Hash Join", 1.0),
    ("merge sort", "merge sort", 5, "Merge Sort", 1.0),
    ("window", "window", 6, "Window Function", 1.0),
    ("stream", "stream", 7, "Stream", 1.0),
    ("sort", "sort", 8, "Sort", 1.0),
    ("scan", "scan", 9, "Scan", 1.0),
    ("join", "join", 10, "Join", 1.0),
    ("vector", "vector", 11, "Vector", 1.0),
    ("customer", "customer", 2, "Spark Plug", 0.5),
]


def _aliases(spark):
    from pyspark.sql import types as T

    from neuroner_spark.io import local_df

    schema = T.StructType(
        [
            T.StructField("alias", T.StringType(), False),
            T.StructField("alias_norm", T.StringType(), False),
            T.StructField("entity_id", T.LongType(), False),
            T.StructField("canonical_name", T.StringType(), False),
            T.StructField("prior", T.DoubleType(), False),
        ]
    )
    # local_df (r7): the dictionary is consumed as a broadcast side and
    # a driver probe in the same query — a LocalRelation keeps both off
    # the Python-RDD evaluation path (one ~0.3 s worker spin-up per
    # broadcast build / collect at local[32])
    return local_df(spark, ALIAS_DICT, schema)


# r6 typed-verb whitelist fixture: raw dictionary types for the 11
# entities above.  Entities 1 (Apache Spark, ORG) and 2 (Spark Plug,
# PRODUCT) share the 'spark' alias and canonicalize into ONE id — a
# deliberate ORG/PRODUCT tie that exerces canonical_entity_types'
# mode + min-type tie-break (resolves to ORG).
ENTITY_TYPES = [
    (1, "ORG"), (2, "PRODUCT"), (3, "OP"), (4, "OP"), (5, "OP"),
    (6, "OP"), (7, "PRODUCT"), (8, "OP"), (9, "OP"), (10, "OP"),
    (11, "PRODUCT"),
]

# (verb, subj_type, obj_type) whitelist — every verb relates operators;
# only query/plan take an ORG subject; filter takes a PRODUCT subject;
# batch takes a PRODUCT object.  Chosen so the typed family is
# non-empty AND strictly smaller than the untyped one at sf0.01.
VERB_TYPE_CONSTRAINTS = [
    ("agg", "OP", "OP"), ("batch", "OP", "OP"), ("filter", "OP", "OP"),
    ("group", "OP", "OP"), ("order", "OP", "OP"), ("plan", "OP", "OP"),
    ("query", "OP", "OP"),
    ("query", "ORG", "OP"), ("plan", "ORG", "OP"),
    ("filter", "PRODUCT", "OP"), ("batch", "OP", "PRODUCT"),
]


def _entity_types(spark):
    from neuroner_spark.io import local_df

    return local_df(spark, ENTITY_TYPES, "entity_id long, entity_type string")


def _alias_values_cte() -> str:
    vals = ",\n    ".join(
        f"('{a}', '{an}', {eid}, '{cn}', {p!r})" for a, an, eid, cn, p in ALIAS_DICT
    )
    return f"""
alias_dict(alias, alias_norm, entity_id, canonical_name, prior) AS (
  SELECT * FROM (VALUES
    {vals}
  )
)
"""


# --- J10: connected components vs recursive-CTE oracle ----------------
def _edges(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    ce = c.select(
        (F.col("c_custkey") + 1000000).cast("long").alias("src"),
        F.col("c_nationkey").cast("long").alias("dst"),
    )
    se = s.select(
        (F.col("s_suppkey") + 2000000).cast("long").alias("src"),
        F.col("s_nationkey").cast("long").alias("dst"),
    )
    return ce.unionByName(se)


# fixed-iteration PageRank leg of the graph query (tol=0 -> no
# convergence action; 5 unrolled iterations in the SQL replay)
PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85


def q_connected_components(spark, sf_dir):
    """J10 components + (r6 tag-merge) fixed-iteration PageRank over
    the SAME customer/supplier->nation graph as a 'pagerank' variant —
    puts the iterative-join ranking loop (operators/graph_rank.py) on
    the full DuckDB-oracle surface: the oracle unrolls the power
    iteration (PAGERANK_ITERS plain aggregation CTEs, including the
    dangling-mass redistribution — every nation is a dangling node
    here), values rounded to 6dp per the float-hash convention.  At
    sf0.01 and sf0.1 the graph is under ``io.DRIVER_ROWS_LIMIT`` edges,
    so both variants take their operator's driver path; the unit tests
    cover the distributed loops."""
    from neuroner_spark.operators.graph_rank import pagerank

    e = _edges(spark, sf_dir)
    cc = connected_components(e).select(
        "node",
        F.lit("component").alias("variant"),
        F.col("component").cast("double").alias("val"),
    )
    pr = pagerank(
        e, damping=PAGERANK_DAMPING, max_iter=PAGERANK_ITERS, tol=0.0
    ).select(
        "node", F.lit("pagerank").alias("variant"), F.round("rank", 6).alias("val")
    )
    return cc.unionByName(pr)


def _pagerank_unrolled_cte(iters: int = PAGERANK_ITERS, d: float = PAGERANK_DAMPING) -> str:
    """Unrolled power iteration: pr0 = uniform; pr{k+1} from pr{k} via
    one inflow aggregation + one dangling-mass scalar — a plain-SQL
    mirror of one ``pagerank`` round (same formula, same association:
    share = rank/deg per source, summed per destination)."""
    ctes = [
        "vedges AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst)",
        # explicit DISTINCT-over-UNION-ALL: inside a WITH RECURSIVE
        # chain DuckDB parsed the bare two-arm UNION here with
        # recursive-union semantics and kept duplicates (observed:
        # 3200 rows for 1625 distinct nodes)
        "vnodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM vedges UNION ALL SELECT dst FROM vedges))",
        "nn AS (SELECT count(*) AS n FROM vnodes)",
        "voutdeg AS (SELECT src, count(*) AS deg FROM vedges GROUP BY src)",
        "pr0 AS (SELECT node, 1.0 / nn.n AS rank FROM vnodes, nn)",
    ]
    for i in range(iters):
        ctes.append(f"""pr{i + 1} AS (
  SELECT nd.node,
         (1.0 - {d}) / nn.n
         + {d} * (SELECT coalesce(sum(p.rank), 0)
                  FROM pr{i} p LEFT JOIN voutdeg od ON od.src = p.node
                  WHERE od.deg IS NULL) / nn.n
         + {d} * coalesce(c.inflow, 0) AS rank
  FROM vnodes nd
  CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node, sum(p.rank / od.deg) AS inflow
    FROM pr{i} p
    JOIN voutdeg od ON od.src = p.node
    JOIN vedges e ON e.src = p.node
    GROUP BY e.dst
  ) c ON c.node = nd.node
)""")
    return ",\n".join(ctes)


SQL_CONNECTED_COMPONENTS = f"""
WITH RECURSIVE edges AS (
  SELECT CAST(c_custkey + 1000000 AS BIGINT) AS src, CAST(c_nationkey AS BIGINT) AS dst FROM customer
  UNION ALL
  SELECT CAST(s_suppkey + 2000000 AS BIGINT) AS src, CAST(s_nationkey AS BIGINT) AS dst FROM supplier
), sym AS (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
), reach(node, r) AS (
  SELECT src AS node, src AS r FROM sym
  UNION
  SELECT sym.src AS node, reach.r
  FROM sym JOIN reach ON sym.dst = reach.node
),
{_pagerank_unrolled_cte()}
SELECT node, 'component' AS variant, CAST(min(r) AS DOUBLE) AS val FROM reach GROUP BY node
UNION ALL
SELECT node, 'pagerank' AS variant, round(rank, 6) AS val FROM pr{PAGERANK_ITERS}
"""


# --- J8: gazetteer n-gram mention matching vs inline-dict oracle ------
def _mention_tokens(spark, sf_dir):
    toks = pseudo_tokens(spark, sf_dir)
    return toks.select("doc_id", "sent_id", "pos", "token", "start", "end")


def q_gazetteer_mentions(spark, sf_dir):
    mentions = match_mentions(_mention_tokens(spark, sf_dir), _aliases(spark))
    return mentions.select("doc_id", "pos", "n", "surface_norm")


def _ngram_cte() -> str:
    # mirrors operators/gazetteer.py: n-grams 1..3 via lead, normalized;
    # longest-per-pos then drop matches contained in an earlier longer one
    return f"""
WITH {PSEUDO_TOKENS_CTE},
with_next AS (
  SELECT doc_id, sent_id, pos, token,
         lead(token, 1) OVER (PARTITION BY doc_id, sent_id ORDER BY pos) AS t1,
         lead(token, 2) OVER (PARTITION BY doc_id, sent_id ORDER BY pos) AS t2
  FROM labeled
), grams AS (
  SELECT doc_id, sent_id, pos, 1 AS n, token AS surface FROM with_next
  UNION ALL
  SELECT doc_id, sent_id, pos, 2, token || ' ' || t1 FROM with_next WHERE t1 IS NOT NULL
  UNION ALL
  SELECT doc_id, sent_id, pos, 3, token || ' ' || t1 || ' ' || t2 FROM with_next WHERE t2 IS NOT NULL
), normed AS (
  SELECT doc_id, sent_id, pos, n,
         trim(regexp_replace(regexp_replace(lower(surface), '[0-9]', '0', 'g'), '\\s+', ' ', 'g')) AS surface_norm
  FROM grams
), {_alias_values_cte()},
hits AS (
  SELECT DISTINCT g.doc_id, g.sent_id, g.pos, g.n, g.surface_norm
  FROM normed g JOIN (SELECT DISTINCT alias_norm FROM alias_dict) a
    ON g.surface_norm = a.alias_norm
), longest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id, sent_id, pos ORDER BY n DESC) AS rn
    FROM hits
  ) WHERE rn = 1
), mentions AS (
  SELECT l.doc_id, l.sent_id, l.pos, l.n, l.surface_norm
  FROM longest l
  WHERE NOT EXISTS (
    SELECT 1 FROM longest b
    WHERE b.doc_id = l.doc_id AND b.sent_id = l.sent_id
      AND b.pos < l.pos AND b.pos + b.n >= l.pos + l.n
  )
)
"""


SQL_GAZETTEER_MENTIONS = _ngram_cte() + """
SELECT doc_id, pos, n, surface_norm FROM mentions
"""


# --- J8+scorer: best-entity linking vs SQL oracle ---------------------
def q_link_best(spark, sf_dir):
    aliases = _aliases(spark)
    mentions = match_mentions(_mention_tokens(spark, sf_dir), aliases)
    linked = link_mentions(mentions, aliases, use_fuzzy=False)
    return linked.select(
        "doc_id", "pos", "surface_norm", "entity_id", F.round("score", 6).alias("score")
    )


SQL_LINK_BEST = _ngram_cte() + """
, cands AS (
  SELECT m.doc_id, m.sent_id, m.pos, m.surface_norm, a.entity_id, a.prior
  FROM mentions m JOIN alias_dict a ON m.surface_norm = a.alias_norm
), support AS (
  SELECT doc_id, entity_id, count(DISTINCT surface_norm) AS n_surfaces
  FROM cands GROUP BY doc_id, entity_id
), scored AS (
  SELECT c.doc_id, c.sent_id, c.pos, c.surface_norm, c.entity_id,
         c.prior * (1.0 + (s.n_surfaces - 1) * 0.5) AS score
  FROM cands c JOIN support s ON c.doc_id = s.doc_id AND c.entity_id = s.entity_id
)
SELECT doc_id, pos, surface_norm, CAST(entity_id AS BIGINT) AS entity_id, round(score, 6) AS score FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id, sent_id, pos
            ORDER BY score DESC, entity_id ASC) AS rn
  FROM scored
) WHERE rn = 1
"""


# --- rows-only: neural tagger + full pipeline -------------------------
# feature-hashed vocab size for the driver's neural query: collect-free
# (no driver-side vocabulary build at any scale); 2^16 rows keeps the
# per-run broadcast at ~26 MB — at 10^12 docs you would size this up
# (2^18+), same call site
NEURAL_HASH_VOCAB = 1 << 16


def q_neural_tag_spans(spark, sf_dir):
    """BiLSTM-CRF tag the documents corpus with the seed-42
    FEATURE-HASHED bundle and extract conlleval spans — deterministic
    but not SQL-expressible (rows-only driver check; the value check is
    the frozen order-insensitive golden hash in
    ``tests/test_model.py::test_neural_tag_spans_golden_hash``).
    Collect-free: tokens map to ``crc32 % (n-1) + 1`` executor-side,
    so no vocabulary ever reaches the driver."""
    from neuroner_spark.model.tagger import tag_tokens
    from neuroner_spark.model.weights import make_bundle
    from neuroner_spark.operators.spans import extract_spans

    tokens = _mention_tokens(spark, sf_dir)
    bundle = make_bundle(NEURAL_HASH_VOCAB, seed=42)
    tagged = tag_tokens(spark, tokens, bundle)
    return extract_spans(tagged, label_col="label").select(
        "doc_id", "type", "start", "end", "n_tokens"
    )


def _etype_values_cte() -> str:
    vals = ", ".join(f"({eid}, '{t}')" for eid, t in ENTITY_TYPES)
    cons = ", ".join(
        f"('{v}', '{s}', '{o}')" for v, s, o in VERB_TYPE_CONSTRAINTS
    )
    return (
        f", etypes(entity_id, etype) AS (SELECT * FROM (VALUES {vals}))\n"
        f", vcons(vtok, subj_type, obj_type) AS (SELECT * FROM (VALUES {cons}))\n"
    )


# WITH RECURSIVE must head the statement for the closure CTE below
SQL_KG_TRIPLES = _ngram_cte().replace("WITH ", "WITH RECURSIVE ", 1) + _etype_values_cte() + """
, cands AS (
  SELECT m.doc_id, m.sent_id, m.pos, m.n, m.surface_norm, a.entity_id, a.prior
  FROM mentions m JOIN alias_dict a ON m.surface_norm = a.alias_norm
), support AS (
  SELECT doc_id, entity_id, count(DISTINCT surface_norm) AS n_surfaces
  FROM cands GROUP BY doc_id, entity_id
), best AS (
  SELECT doc_id, sent_id, pos, n, entity_id FROM (
    SELECT c.doc_id, c.sent_id, c.pos, c.n, c.entity_id,
           row_number() OVER (PARTITION BY c.doc_id, c.sent_id, c.pos
             ORDER BY c.prior * (1.0 + (s.n_surfaces - 1) * 0.5) DESC, c.entity_id ASC) AS rn
    FROM cands c JOIN support s ON c.doc_id = s.doc_id AND c.entity_id = s.entity_id
  ) WHERE rn = 1
), sameas AS (  -- entities sharing an alias -> edge to the group minimum
  SELECT DISTINCT least(mn, entity_id) AS src, greatest(mn, entity_id) AS dst FROM (
    SELECT entity_id, min(entity_id) OVER (PARTITION BY alias_norm) AS mn FROM alias_dict
  ) WHERE mn <> entity_id
), reach(node, r) AS (  -- connected components via transitive closure
  SELECT src AS node, src FROM (SELECT src, dst FROM sameas UNION SELECT dst, src FROM sameas)
  UNION
  SELECT e.src, reach.r
  FROM (SELECT src, dst FROM sameas UNION SELECT dst, src FROM sameas) e
  JOIN reach ON e.dst = reach.node
), canon AS (
  SELECT a.entity_id, coalesce(c.component, a.entity_id) AS canonical_id
  FROM (SELECT DISTINCT entity_id FROM alias_dict) a
  LEFT JOIN (SELECT node, min(r) AS component FROM reach GROUP BY node) c
    ON a.entity_id = c.node
), m AS (
  SELECT b.doc_id, b.sent_id, b.pos, b.n, CAST(cn.canonical_id AS BIGINT) AS ent
  FROM best b JOIN canon cn ON b.entity_id = cn.entity_id
), sent_pairs AS (
  SELECT x.doc_id, x.pos AS pos_a, y.pos AS pos_b, x.ent AS subj, y.ent AS obj
  FROM m x JOIN m y ON x.doc_id = y.doc_id AND x.sent_id = y.sent_id AND x.ent < y.ent
), verbs AS (  -- lexicon-filtered token stream (kg_pipeline.DEFAULT_VERB_LEXICON)
  SELECT doc_id, sent_id, pos AS vpos, lower(token) AS vtok
  FROM labeled
  WHERE lower(token) IN ('agg', 'batch', 'filter', 'group', 'order', 'plan', 'query')
), ctypes AS (  -- canonical type = mode of member types, min-type tie-break
  SELECT canonical_id AS ent, etype FROM (
    SELECT cn.canonical_id, t.etype,
           row_number() OVER (PARTITION BY cn.canonical_id
                              ORDER BY count(*) DESC, t.etype ASC) AS rn
    FROM (SELECT DISTINCT entity_id, etype FROM etypes) t
    JOIN canon cn ON t.entity_id = cn.entity_id
    GROUP BY cn.canonical_id, t.etype
  ) WHERE rn = 1
), vpairs AS (  -- DIRECTED: subj = left mention, obj starts <= gap after it ends
  SELECT x.doc_id, x.sent_id, x.pos AS pos_a, x.pos + x.n AS end_a,
         y.pos AS pos_b, x.ent AS subj, y.ent AS obj,
         ts.etype AS subj_type, tob.etype AS obj_type
  FROM m x JOIN m y ON x.doc_id = y.doc_id AND x.sent_id = y.sent_id
   AND y.pos >= x.pos + x.n AND y.pos - (x.pos + x.n) <= 8 AND x.ent <> y.ent
  JOIN ctypes ts ON ts.ent = x.ent
  JOIN ctypes tob ON tob.ent = y.ent
), vtrip AS (  -- pred = nearest ALLOWED verb (typed whitelist), strictly between
  SELECT DISTINCT doc_id, subj, vtok AS pred, obj FROM (
    SELECT p.doc_id, p.subj, p.obj, v.vtok,
           row_number() OVER (PARTITION BY p.doc_id, p.sent_id, p.pos_a, p.pos_b
                              ORDER BY v.vpos) AS rn
    FROM vpairs p JOIN verbs v ON p.doc_id = v.doc_id AND p.sent_id = v.sent_id
     AND v.vpos >= p.end_a AND v.vpos < p.pos_b
    JOIN vcons c ON c.vtok = v.vtok AND c.subj_type = p.subj_type
     AND c.obj_type = p.obj_type
  ) WHERE rn = 1
), trip AS (
  SELECT DISTINCT doc_id, subj, obj, 'same_sentence_as' AS pred FROM sent_pairs
  UNION ALL
  SELECT DISTINCT doc_id, subj, obj, 'near' FROM sent_pairs WHERE abs(pos_a - pos_b) <= 5
  UNION ALL
  SELECT DISTINCT x.doc_id, x.subj, y.obj, 'co_occurs_with'
  FROM (SELECT DISTINCT doc_id, subj FROM (SELECT doc_id, ent AS subj FROM m)) x
  JOIN (SELECT DISTINCT doc_id, obj FROM (SELECT doc_id, ent AS obj FROM m)) y
    ON x.doc_id = y.doc_id AND x.subj < y.obj
  UNION ALL
  SELECT doc_id, subj, obj, pred FROM vtrip
)
SELECT subj, pred, obj, doc_id AS url FROM trip
"""


def q_kg_triples(spark, sf_dir):
    """Full gazetteer KG pipeline over documents -> distinct triples,
    incl. the r6 verb-mediated predicate family (DEFAULT_VERB_LEXICON)
    under the TYPED whitelist (VERB_TYPE_CONSTRAINTS): pred = nearest
    verb allowed for the pair's canonical (subj_type, obj_type)."""
    from neuroner_spark.plans.kg_pipeline import (
        DEFAULT_VERB_LEXICON,
        canonical_map,
        triples_from_linked,
    )

    aliases = _aliases(spark)
    tokens = _mention_tokens(spark, sf_dir)
    mentions = match_mentions(tokens, aliases)
    linked = link_mentions(mentions, aliases, use_fuzzy=False)
    canon = canonical_map(aliases)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
    )
    return triples_from_linked(
        linked,
        canon,
        docs,
        verb_lexicon=DEFAULT_VERB_LEXICON,
        tokens=tokens,
        entity_types=_entity_types(spark),
        verb_type_constraints=VERB_TYPE_CONSTRAINTS,
    ).select("subj", "pred", "obj", "url")


# --- entity-resolution quality: pairwise + B-cubed P/R/F1 -------------
def q_er_quality(spark, sf_dir):
    """ER clustering quality (operators/er_metrics.py) on a planted
    customer clustering: gold = c_nationkey; pred merges nations >= 20
    into their %20 sibling (pairwise-precision hit) and splits every
    5th customer into a pure per-nation satellite cluster (recall hit,
    rewarded by B-cubed where pairwise ignores singletons).  One row,
    metrics rounded to 6dp (the oracle-hash float convention)."""
    from neuroner_spark.operators.er_metrics import bcubed_prf, pairwise_prf

    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").cast("long").alias("id"),
        F.when(
            F.col("c_custkey") % 5 == 0, F.lit(1000) + F.col("c_nationkey")
        )
        .otherwise(F.col("c_nationkey") % 20)
        .cast("long")
        .alias("pred"),
        F.col("c_nationkey").cast("long").alias("gold"),
    )
    pw = pairwise_prf(c.select("id", "pred"), c.select("id", "gold"), id_col="id")
    bc = bcubed_prf(c.select("id", "pred"), c.select("id", "gold"), id_col="id")
    from neuroner_spark.io import local_df

    return local_df(
        spark,
        [
            (
                round(pw["precision"], 6),
                round(pw["recall"], 6),
                round(pw["f1"], 6),
                round(bc["precision"], 6),
                round(bc["recall"], 6),
                round(bc["f1"], 6),
                int(pw["n_items"]),
            )
        ],
        "pairwise_precision double, pairwise_recall double, pairwise_f1 double, "
        "bcubed_precision double, bcubed_recall double, bcubed_f1 double, "
        "n_items long",
    )


SQL_ER_QUALITY = """
WITH j AS (
  SELECT CAST(c_custkey AS BIGINT) AS id,
         CAST(CASE WHEN c_custkey % 5 = 0 THEN 1000 + c_nationkey
                   ELSE c_nationkey % 20 END AS BIGINT) AS la,
         CAST(c_nationkey AS BIGINT) AS lg
  FROM customer
), sa AS (SELECT la, count(*) AS n FROM j GROUP BY la),
sg AS (SELECT lg, count(*) AS n FROM j GROUP BY lg),
sb AS (SELECT la, lg, count(*) AS n FROM j GROUP BY la, lg),
pair AS (
  SELECT (SELECT sum(n * (n - 1) / 2.0) FROM sa) AS pa,
         (SELECT sum(n * (n - 1) / 2.0) FROM sg) AS pg,
         (SELECT sum(n * (n - 1) / 2.0) FROM sb) AS pb,
         (SELECT count(*) FROM j) AS n_items
), bc AS (
  SELECT avg(CAST(b.n AS DOUBLE) / a.n) AS bp,
         avg(CAST(b.n AS DOUBLE) / g.n) AS br
  FROM j JOIN sb b ON j.la = b.la AND j.lg = b.lg
         JOIN sa a ON j.la = a.la
         JOIN sg g ON j.lg = g.lg
)
SELECT round(pb / pa, 6) AS pairwise_precision,
       round(pb / pg, 6) AS pairwise_recall,
       round(2 * (pb / pa) * (pb / pg) / ((pb / pa) + (pb / pg)), 6) AS pairwise_f1,
       round(bp, 6) AS bcubed_precision,
       round(br, 6) AS bcubed_recall,
       round(2 * bp * br / (bp + br), 6) AS bcubed_f1,
       CAST(n_items AS BIGINT) AS n_items
FROM pair, bc
"""


QUERIES = {
    "connected_components": (q_connected_components, SQL_CONNECTED_COMPONENTS),
    "er_quality": (q_er_quality, SQL_ER_QUALITY),
    "gazetteer_mentions": (q_gazetteer_mentions, SQL_GAZETTEER_MENTIONS),
    "link_best": (q_link_best, SQL_LINK_BEST),
    "neural_tag_spans": (q_neural_tag_spans, None),
    "kg_triples": (q_kg_triples, SQL_KG_TRIPLES),
}
