"""Round-4 corpus additions, batch 5: iterative graph analytics
(PageRank), Deequ-style data-quality expectations, Misra-Gries heavy
hitters, vocabulary/OOV coverage, URL canonicalization dedup, edit-
distance similarity, and the metadata-only partition-drop delete.

Each query pairs a distributed Spark plan with a DuckDB oracle built
from the SAME constants (damping, iteration count, hash salts, regex
passes), so the two sides cannot drift. The PageRank oracle unrolls
the fixed iteration count into generated CTEs — iterative algorithms
stay hash-checkable as long as the round count is a constant of the
query, not a convergence test.
"""

from __future__ import annotations

import tempfile
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_rs_spark.functions.hashing import h60, h60_sql
from iceberg_rs_spark.operators import text as T
from iceberg_rs_spark.operators import topk as K
from iceberg_rs_spark.operators.skew import spread_by_range
from iceberg_rs_spark.operators.graph import pagerank
from iceberg_rs_spark.plans.canon import rhalf, rhalf_sql
from iceberg_rs_spark.plans.corpus import query
from iceberg_rs_spark.plans.llm import NORM_SQL
from iceberg_rs_spark.sources.fixtures import EVENTS_ORACLE_CTE, load_table
from iceberg_rs_spark.sources.icelake import Catalog

# ---------------------------------------------------------------------------
# PageRank over the nation trade graph
# ---------------------------------------------------------------------------

PR_ITERATIONS, PR_DAMPING = 5, 0.85

#: exact integer cents for one lineitem's discounted revenue — floor
#: half-up in pure double arithmetic, bit-identical across engines
_CENTS_SQL = "CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)"


def _pagerank_oracle() -> str:
    """Unroll PR_ITERATIONS rounds of the same recurrence
    operators/graph.py:pagerank computes, as generated CTEs."""
    d, base = PR_DAMPING, f"(1 - {PR_DAMPING})"
    ctes = [
        f"""edges AS (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
               CAST(SUM({_CENTS_SQL}) AS DOUBLE) AS w
        FROM lineitem
        JOIN orders     ON l_orderkey = o_orderkey
        JOIN customer c ON o_custkey = c.c_custkey
        JOIN supplier s ON l_suppkey = s.s_suppkey
        GROUP BY 1, 2)""",
        """nodes AS (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges)""",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        "outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src)",
        """trans AS (
        SELECT src, dst, w / ow AS p FROM edges JOIN outw USING (src))""",
        "r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)",
    ]
    for i in range(1, PR_ITERATIONS + 1):
        p = i - 1
        ctes.append(
            f"""d{i} AS (
        SELECT COALESCE(SUM(rank), 0) AS dm FROM r{p}
        WHERE node NOT IN (SELECT src FROM trans))"""
        )
        ctes.append(
            f"""r{i} AS (
        SELECT nodes.node,
               {base} / (SELECT n FROM nn)
               + {d} * (COALESCE(ct.c, 0)
                        + (SELECT dm FROM d{i}) / (SELECT n FROM nn)) AS rank
        FROM nodes LEFT JOIN (
            SELECT t.dst AS node, SUM(r.rank * t.p) AS c
            FROM trans t JOIN r{p} r ON t.src = r.node
            GROUP BY t.dst) ct ON nodes.node = ct.node)"""
        )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT n_name, {rhalf_sql('rank', 6)} AS rank
    FROM r{PR_ITERATIONS} JOIN nation ON node = n_nationkey
    ORDER BY n_name
    """
    )


@query(
    "graph_pagerank_trade",
    oracle=_pagerank_oracle(),
    tags=("graph", "iterative", "pagerank"),
)
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation trade graph (supplier nation →
    customer nation, edge weight = exact discounted-revenue cents):
    which nations sit at the center of the supply network. Fixed 5
    damped iterations with uniform dangling-mass redistribution —
    a pure function of the input, so the full rank vector hash-checks
    against the oracle's unrolled-CTE recurrence.

    The iterative plan stays distributed (operators/graph.py): one
    join + one groupBy per round over (node, rank), scalars ride in
    1-row broadcast frames, and every round is barriered so lineage
    does not double per iteration. At 100 TB the same operator runs on
    a billion-edge graph — per-round cost is bounded by the edge-list
    shuffle, never by driver memory."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.sum(cents).cast("double").alias("w"))
    )
    ranks = pagerank(
        edges, weight="w", iterations=PR_ITERATIONS, damping=PR_DAMPING
    )
    return (
        ranks.join(n, ranks["node"] == n["n_nationkey"])
        .select("n_name", rhalf(F.col("rank"), 6).alias("rank"))
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Data-quality expectations (Deequ/Great-Expectations shape)
# ---------------------------------------------------------------------------

#: deterministic dirtying of the orders fixture so every expectation
#: has real violations to count (the synthetic fixture itself is clean)
_DIRTY_SQL = """
    dirty AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 53 = 0 THEN NULL ELSE o_custkey END
                   AS o_custkey,
               CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE o_orderstatus END
                   AS o_orderstatus,
               CASE WHEN o_orderkey % 71 = 0 THEN -o_totalprice
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 101 = 0)
"""


@query(
    "quality_expectations",
    oracle=f"""
    WITH {_DIRTY_SQL},
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_rows FROM dirty),
    checks AS (
        SELECT 'completeness_custkey' AS check_name,
               CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
                   AS n_violations
        FROM dirty
        UNION ALL
        SELECT 'domain_orderstatus',
               CAST(COUNT(*) FILTER (
                   WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT)
        FROM dirty
        UNION ALL
        SELECT 'range_totalprice_positive',
               CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT)
        FROM dirty
        UNION ALL
        SELECT 'uniqueness_orderkey',
               CAST((SELECT COUNT(*) FROM dirty)
                    - (SELECT COUNT(DISTINCT o_orderkey) FROM dirty) AS BIGINT)
        UNION ALL
        SELECT 'referential_custkey',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM dirty
                WHERE o_custkey IS NOT NULL
                  AND o_custkey NOT IN (SELECT c_custkey FROM customer)))
    SELECT check_name, n_violations,
           {rhalf_sql('1.0 - n_violations / (SELECT n_rows FROM n)', 6)}
               AS pass_rate,
           n_violations = 0 AS passed
    FROM checks
    ORDER BY check_name
    """,
    tags=("quality", "validation", "profiling"),
)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality expectation suite over a
    deterministically dirtied orders feed: completeness (null rate),
    accepted-value domain, numeric range, key uniqueness, and
    referential integrity against customer — one summary row per
    check with violation count, pass rate, and verdict.

    Plan shape: the four row-local checks run in ONE aggregate pass
    over the feed (conditional counts, no per-check scan); uniqueness
    adds a COUNT(DISTINCT); referential integrity is a broadcast-anti
    count against the key side. At 100 TB this is the nightly
    pipeline-gate pattern — full-corpus validation cost is a single
    scan plus one distinct, not a scan per expectation."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    key = F.col("o_orderkey")
    dirty = o.select(
        "o_orderkey",
        F.when(key % 53 == 0, None).otherwise(F.col("o_custkey")).alias("o_custkey"),
        F.when(key % 89 == 0, "X").otherwise(F.col("o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.when(key % 71 == 0, -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    ).unionByName(o.where(key % 101 == 0))
    cust_keys = load_table(spark, sf_dir, "customer").select("c_custkey")

    one_pass = dirty.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias(
            "completeness_custkey"
        ),
        F.count(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
        ).alias("domain_orderstatus"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias(
            "range_totalprice_positive"
        ),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
            "uniqueness_orderkey"
        ),
    )
    ri = (
        dirty.where(F.col("o_custkey").isNotNull())
        .join(
            F.broadcast(cust_keys),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("referential_custkey"))
    )
    wide = one_pass.crossJoin(F.broadcast(ri))
    checks = wide.selectExpr(
        "n_rows",
        """stack(5,
            'completeness_custkey', completeness_custkey,
            'domain_orderstatus', domain_orderstatus,
            'range_totalprice_positive', range_totalprice_positive,
            'uniqueness_orderkey', uniqueness_orderkey,
            'referential_custkey', referential_custkey
        ) AS (check_name, n_violations)""",
    )
    return checks.select(
        "check_name",
        F.col("n_violations").cast("long").alias("n_violations"),
        rhalf(1.0 - F.col("n_violations") / F.col("n_rows"), 6).alias("pass_rate"),
        (F.col("n_violations") == 0).alias("passed"),
    ).orderBy("check_name")


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters over the token stream
# ---------------------------------------------------------------------------

MG_K = 199  # heavy hitter = token with count > n_tokens / (MG_K + 1)


@query(
    "agg_heavy_hitters_mg",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split({NORM_SQL.format(c='text')}, ' ')) AS token
        FROM documents),
    clean AS (SELECT token FROM toks WHERE token != ''),
    n AS (SELECT COUNT(*) AS n_total FROM clean)
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n,
           {rhalf_sql('COUNT(*) * 1.0 / (SELECT n_total FROM n)', 6)} AS share
    FROM clean
    GROUP BY token
    HAVING COUNT(*) * {MG_K + 1} > (SELECT n_total FROM n)
    ORDER BY n DESC, token
    """,
    tags=("agg", "sketch", "heavy-hitters", "exact"),
)
def agg_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus heavy hitters (tokens above a 1/200 frequency
    share) found with the two-pass distributed Misra-Gries scheme
    (operators/topk.py:heavy_hitters): per-partition O(k) candidate
    sketches in Arrow-batched mapInPandas, then an exact recount
    restricted to the candidate union. The pigeonhole guarantee makes
    the candidate set a superset of the true hitters, so the final
    counts are bit-exact and hash-check against a plain frequency
    filter — the oracle certifies the sketch pipeline end to end.

    At 100 TB the win is that pass 1 ships O(k · partitions) rows to
    the recount instead of shuffling the full token vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(T.tokens(F.col("text"))).alias("token")
    ).where(F.col("token") != "")
    hh = K.heavy_hitters(toks, "token", MG_K)
    return hh.select(
        "token",
        F.col("n").cast("long").alias("n"),
        rhalf(F.col("n") * 1.0 / F.col("n_total"), 6).alias("share"),
    ).orderBy(F.desc("n"), "token")


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV audit across the hash split
# ---------------------------------------------------------------------------

VOCAB_SIZE = 300


@query(
    "pipeline_vocab_coverage",
    oracle=f"""
    WITH labeled AS (
        SELECT doc_id, lang,
               CASE WHEN {h60_sql("'split|' || CAST(doc_id AS VARCHAR)")} % 100 < 80
                    THEN 'train' ELSE 'heldout' END AS split,
               string_split({NORM_SQL.format(c='text')}, ' ') AS toks
        FROM documents),
    tok AS (
        SELECT doc_id, lang, split, unnest(toks) AS token FROM labeled),
    clean AS (SELECT * FROM tok WHERE token != ''),
    vocab AS (
        SELECT token FROM (
            SELECT token,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS r
            FROM clean WHERE split = 'train' GROUP BY token)
        WHERE r <= {VOCAB_SIZE}),
    held AS (
        SELECT lang, COUNT(*) AS n_tokens,
               COUNT(*) FILTER (
                   WHERE token NOT IN (SELECT token FROM vocab)) AS n_oov,
               COUNT(DISTINCT doc_id) AS n_docs
        FROM clean WHERE split = 'heldout' GROUP BY lang)
    SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_oov AS BIGINT) AS n_oov,
           {rhalf_sql('n_oov * 1.0 / n_tokens', 6)} AS oov_rate
    FROM held
    ORDER BY lang
    """,
    tags=("llm", "pipeline", "vocabulary", "oov"),
)
def pipeline_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: build a top-300 token
    vocabulary from the TRAIN side of the deterministic hash split,
    then measure per-language out-of-vocabulary rates on the heldout
    side — the standard pre-training check that a tokenizer fitted on
    one slice does not silently shred another language's text.

    Vocabulary selection is deterministic (count desc, token asc
    tie-break). The vocab is a fixed-size relation joined via
    broadcast left-anti — the heldout corpus streams, nothing
    vocabulary-sized shuffles. Same shape at 100 TB with a 256k-entry
    BPE vocab."""
    docs = spread_by_range(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        "doc_id",
    )
    split = F.when(
        h60(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))) % 100 < 80,
        "train",
    ).otherwise("heldout")
    # r14: the single-file scan is spread before tokenize+explode
    # (guide §2.5) — the token relation feeds three consumers and each
    # re-derivation previously ran on ONE core; spreading halves the
    # measured first-execution cost (6.1 s → 3.4 s) of this
    # historically retime-prone query. A materialization barrier was
    # ALSO measured here and rejected: checkpointing the 250k-row
    # token relation costs more than the (now-parallel)
    # re-derivations save (steady 3.1 s vs 2.1 s).
    tok = (
        docs.select(
            "doc_id", "lang", split.alias("split"), T.tokens(F.col("text")).alias("toks")
        )
        .select("doc_id", "lang", "split", F.explode("toks").alias("token"))
        .where(F.col("token") != "")
    )
    # top-N selection via orderBy().limit() — Spark plans
    # TakeOrderedAndProject (per-partition heaps), NOT a row_number()
    # over an unpartitioned window, which would funnel the whole
    # vocabulary through one task
    vocab = (
        tok.where(F.col("split") == "train")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(VOCAB_SIZE)
        .select("token")
    )
    # r14 (guide §2.3/§2.4): the heldout token stream used to feed TWO
    # aggregations (per-lang totals and, through a broadcast anti-join,
    # per-lang OOV counts) — each re-deriving the tokenize+explode
    # subtree. A broadcast LEFT join against the vocab (distinct tokens,
    # so no fan-out) turns membership into a flag and both counts fuse
    # into ONE aggregation pass over ONE derivation of `held` —
    # identical counts: count(flag IS NULL) ≡ the anti-join count.
    held = tok.where(F.col("split") == "heldout")
    flagged = held.join(
        F.broadcast(vocab.withColumn("_inv", F.lit(1))), "token", "left"
    )
    per_lang = flagged.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.count(F.when(F.col("_inv").isNull(), 1)).alias("n_oov"),
    )
    return (
        per_lang.select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_oov").cast("long").alias("n_oov"),
            rhalf(F.col("n_oov") * 1.0 / F.col("n_tokens"), 6).alias("oov_rate"),
        ).orderBy("lang")
    )


# ---------------------------------------------------------------------------
# URL canonicalization dedup
# ---------------------------------------------------------------------------

#: deterministic raw URL synthesized per document (the fixture has no
#: URL column); four variant shapes collide onto one canonical form
_URL_SQL = """
    CASE doc_id % 4
      WHEN 0 THEN 'https://site' || (doc_id % 50) || '.example.com/p/'
                   || (doc_id % 200)
      WHEN 1 THEN 'https://SITE' || (doc_id % 50) || '.Example.COM/p/'
                   || (doc_id % 200) || '/'
      WHEN 2 THEN 'https://site' || (doc_id % 50) || '.example.com/p/'
                   || (doc_id % 200) || '?utm_source=news&utm_campaign=x'
      ELSE 'https://site' || (doc_id % 50) || '.example.com/p/'
                   || (doc_id % 200) || '#section-2'
    END
"""

#: canonicalization passes shared by both engines (regex syntax is
#: common-denominator RE2/Java): strip fragment, strip utm_* params
#: (then a dangling '?'), strip one trailing slash, lowercase host
_CANON_STEPS = [
    (r"#.*$", ""),
    (r"utm_[a-z]+=[^&]*&?", ""),
    (r"[?&]$", ""),
    (r"/$", ""),
]


def _canon_sql(expr: str) -> str:
    out = expr
    for pat, rep in _CANON_STEPS:
        out = f"regexp_replace({out}, '{pat}', '{rep}', 'g')"
    # lowercase scheme+host only: everything before the path's first /
    return (
        f"lower(regexp_extract({out}, '^(https?://[^/]*)', 1)) || "
        f"regexp_replace({out}, '^https?://[^/]*', '')"
    )


@query(
    "dedup_url_canonical",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, {_URL_SQL} AS url FROM documents WHERE doc_id < 600),
    canon AS (
        SELECT doc_id, {_canon_sql('url')} AS canonical_url FROM raw)
    SELECT canonical_url, CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM canon
    GROUP BY canonical_url
    HAVING COUNT(*) > 1
    ORDER BY canonical_url
    """,
    tags=("dedup", "url", "canonicalization"),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the crawl-curation operator that
    collapses tracking-parameter / fragment / case / trailing-slash
    variants of the same page before content dedup ever runs. Raw
    URLs are synthesized deterministically per doc (the fixture has
    no URL column) in four variant shapes; canonicalization is a
    fixed sequence of JVM-side regexp passes (strip fragment, strip
    utm_* params, strip dangling '?' and trailing '/', lowercase
    scheme+host but NOT the path, which is case-sensitive per RFC
    3986). Survivor = min doc_id per canonical URL — one hash
    shuffle, no UDF, linear at any scale."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 600
    )
    d = F.col("doc_id")
    base = F.concat(
        F.lit("https://site"),
        (d % 50).cast("string"),
        F.lit(".example.com/p/"),
        (d % 200).cast("string"),
    )
    base_upper = F.concat(
        F.lit("https://SITE"),
        (d % 50).cast("string"),
        F.lit(".Example.COM/p/"),
        (d % 200).cast("string"),
        F.lit("/"),
    )
    url = (
        F.when(d % 4 == 0, base)
        .when(d % 4 == 1, base_upper)
        .when(d % 4 == 2, F.concat(base, F.lit("?utm_source=news&utm_campaign=x")))
        .otherwise(F.concat(base, F.lit("#section-2")))
    )
    canon = url
    for pat, rep in _CANON_STEPS:
        canon = F.regexp_replace(canon, pat, rep)
    canon = F.concat(
        F.lower(F.regexp_extract(canon, r"^(https?://[^/]*)", 1)),
        F.regexp_replace(canon, r"^https?://[^/]*", ""),
    )
    return (
        docs.select("doc_id", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").cast("long").alias("keep_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        .where(F.col("n_docs") > 1)
        .orderBy("canonical_url")
    )


# ---------------------------------------------------------------------------
# Edit-distance pair similarity (blocked)
# ---------------------------------------------------------------------------

LEV_PREFIX, LEV_MAX = 20, 10


@query(
    "fn_string_distance",
    oracle=f"""
    WITH pool AS (
        SELECT doc_id, lang,
               substr({NORM_SQL.format(c='text')}, 1, {LEV_PREFIX}) AS s
        FROM documents WHERE doc_id < 120),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               levenshtein(a.s, b.s) AS dist,
               greatest(length(a.s), length(b.s)) AS max_len
        FROM pool a JOIN pool b
          ON a.lang = b.lang AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST(dist AS INTEGER) AS dist,
           {rhalf_sql('1.0 - dist * 1.0 / max_len', 6)} AS sim
    FROM pairs
    WHERE dist <= {LEV_MAX}
    ORDER BY id_a, id_b
    """,
    tags=("function", "string", "levenshtein", "similarity"),
)
def fn_string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance pair similarity over normalized document
    prefixes, blocked by language: Spark's JVM `levenshtein` and
    DuckDB's `levenshtein` are both the classic Wagner-Fischer edit
    distance, so the per-pair scores hash-check exactly. The language
    block bounds the self-join fan-out the same way the LSH band join
    does for MinHash — at 100 TB the block key would be (lang,
    length-band, simhash prefix), never an unblocked cross join."""
    pool = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 120)
        .select(
            "doc_id",
            "lang",
            F.substring(T.normalize(F.col("text")), 1, LEV_PREFIX).alias("s"),
        )
    )
    a = pool.alias("a")
    b = pool.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.levenshtein(F.col("a.s"), F.col("b.s")).alias("dist"),
        F.greatest(F.length("a.s"), F.length("b.s")).alias("max_len"),
    )
    return (
        pairs.where(F.col("dist") <= LEV_MAX)
        .select(
            "id_a",
            "id_b",
            F.col("dist").cast("int").alias("dist"),
            rhalf(1.0 - F.col("dist") * 1.0 / F.col("max_len"), 6).alias("sim"),
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Metadata-only partition drop
# ---------------------------------------------------------------------------


@query(
    "table_partition_drop_metadata_only",
    oracle=f"""
    {EVENTS_ORACLE_CTE},
    scoped AS (SELECT * FROM evt WHERE user_id < 400),
    days AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM scoped GROUP BY 1),
    drop_day AS (SELECT MIN(day) AS d FROM days)
    SELECT CAST(day AS VARCHAR) AS day, CAST(n AS BIGINT) AS n_rows,
           'delete' AS operation, TRUE AS metadata_only
    FROM days WHERE day != (SELECT d FROM drop_day)
    ORDER BY day
    """,
    tags=("table", "delete", "metadata-only", "partition"),
)
def table_partition_drop_metadata_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-aligned DELETE as a pure metadata operation: dropping
    a whole day from a day-partitioned table edits the manifest — no
    data file is read or rewritten (sources/icelake.py
    `_file_outcomes`: per-file column stats and partition values prove
    the predicate is TRUE on every row, so the file is dropped from the
    snapshot outright). At 100 TB this is the retention-enforcement path —
    cost proportional to metadata, not to the dropped data.

    The result pins the behavior three ways: surviving per-day counts
    (hash-checked), the snapshot operation recorded as `delete`, and
    `metadata_only` = the commit summary reporting >0 files dropped
    metadata-only with zero rewritten. The pytest side additionally
    asserts no new data-file paths appeared in the post-delete
    snapshot."""
    events = load_table(spark, sf_dir, "events").where(F.col("user_id") < 400)
    catalog = Catalog(spark, tempfile.mkdtemp(prefix="icelake_pdrop_"))
    t = catalog.create_table("db.events_days", events.schema, partition_by=[("ts", "day")])
    t.append(events)
    d0 = events.agg(F.min(F.col("ts").cast("date"))).collect()[0][0]
    drop_day = d0.isoformat()
    next_day = (d0 + timedelta(days=1)).isoformat()
    t.delete(
        f"ts >= TIMESTAMP '{drop_day} 00:00:00' AND ts < TIMESTAMP '{next_day} 00:00:00'"
    )
    snap = t.metadata.snapshot_by_id(t.metadata.current_snapshot_id)
    meta_only = int(snap.summary.get("deleted-files-metadata-only", "0")) > 0
    return (
        t.scan()
        .groupBy(F.col("ts").cast("date").cast("string").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "day",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.lit(snap.operation).alias("operation"),
            F.lit(meta_only).alias("metadata_only"),
        )
        .orderBy("day")
    )
