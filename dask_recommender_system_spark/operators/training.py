"""Training-data preparation operators (SURVEY.md §2.9 round-3 additions
X62-X64, X76-X78): deterministic negative sampling, exact-arithmetic
feature binning, vocabulary building with a cumulative-mass cutoff,
K-per-key sampling, winsorize/robust scaling, and unigram-LM scoring. The
reference stops at the positive ratings matrix (``reference/models/als.py``
consumes observed triples only); these are the ops a team turns that same
matrix into model-ready training data with — implicit-feedback negatives,
bucketed categorical features, and a token vocabulary — each expressed in
the shapes that survive 100 TB: keyed shuffles, broadcast scalars, and the
block-offset scan (models/common.block_offsets) instead of any
single-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..data import RATINGS_SQL, load_table, spread
from ..registry import query
from .text import ORACLE_TOKENS, TOKENS

# Negative sampling: K kept negatives per positive, drawn from C > K
# deterministic candidates so anti-join attrition (a candidate the user
# actually interacted with) rarely starves an interaction below K.
NEG_K = 4
NEG_CAND = 8
# Knuth multiplicative-hash constant — same one the factor-init uses
# (models/common.py hash_uniform); consecutive +j offsets guarantee the
# C candidates of one interaction are distinct whenever |items| >= C.
HASH_A = 2654435761
# prime > any per-user row count; also the pre-reduction modulus applied to
# interaction_id before every HASH_A multiply (round-6 ids carry 2^32 tie
# bits — id*HASH_A would overflow int64: Spark wraps, DuckDB errors)
SAMPLE_MOD = 1000003

_NEG_ORACLE = f"""
WITH r AS MATERIALIZED ({RATINGS_SQL}),
p AS (SELECT DISTINCT user_id, item_id, interaction_id FROM r),
m AS (SELECT MAX(item_id) AS n_items FROM p),
cand AS (
  SELECT p.user_id, p.item_id, p.interaction_id, g.j,
         1 + (((p.interaction_id % {SAMPLE_MOD}) * {HASH_A}
               + p.item_id * 40503) % m.n_items
              + g.j) % m.n_items AS neg_item
  FROM p CROSS JOIN m
  CROSS JOIN (SELECT UNNEST(range(0, {NEG_CAND})) AS j) g
),
flt AS (
  SELECT c.user_id, c.item_id, c.interaction_id, c.j, c.neg_item
  FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM p s
                    WHERE s.user_id = c.user_id AND s.item_id = c.neg_item)
)
SELECT user_id, item_id, interaction_id, neg_item,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id, item_id, interaction_id
                               ORDER BY j) AS BIGINT) AS neg_rank
FROM flt
QUALIFY neg_rank <= {NEG_K}
"""


@query("negative_sampling", oracle=_NEG_ORACLE)
def negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X62: implicit-feedback negative sampling — for every positive
    interaction, NEG_K deterministic unseen items (the training-pair
    generator BPR/WARP-style recommender losses need; the reference's SGD
    consumes observed positives only, ``reference/models/funk_svd.py``).

    Determinism instead of RNG: candidate item = multiplicative hash of
    the interaction id plus a consecutive offset, so the sample is
    reproducible across engines, retries, and repartitionings — at 100 TB
    a resampled retry that disagrees with the first attempt is a silent
    training-data fork. Consecutive offsets make one interaction's C
    candidates collision-free by construction (no within-group dedup
    pass). Positives are the DISTINCT (user, item, interaction) triples —
    the derived interaction_id is not unique in the synthetic lineitem,
    and a ranking keyed by a colliding id would be tie-nondeterministic;
    the hash seed mixes item_id in so colliding ids still draw different
    candidate runs. Shape: candidate generation is a narrow ×C explode
    off a 1-row broadcast max; the seen-filter is a keyed LEFT ANTI join
    on (user_id, item); the keep-K ranking window is keyed per positive
    triple. Nothing global, nothing driver-side."""
    from ..data import ratings_cached

    r = (
        ratings_cached(spark, sf_dir)
        .select("user_id", "item_id", "interaction_id")
        .distinct()
    )
    n_items = r.agg(F.max("item_id").alias("n_items"))
    # In-row candidate generation AND seen-filtering (guide §2.3/§2.4):
    # the previous form exploded all C candidates, LEFT ANTI joined the
    # ×C rows on (user_id, neg_item), then ranked survivors with a ×C
    # window — two data-sized shuffles of the candidate set. The seen
    # test only needs the USER's item set, so: one user-keyed item-set
    # agg, one user-keyed join onto the positives, then candidates are
    # generated, filtered, ranked and truncated inside the row with
    # array HOFs — only the ≤K survivors are ever exploded. Candidate
    # order (offset j) is preserved by sequence+filter, so neg_rank is
    # value-identical to the old row_number-over-j. Per-user seen arrays
    # are history-sized (the same bound the anti-join's build side had).
    seen = r.groupBy("user_id").agg(F.collect_set("item_id").alias("seen"))
    cand = (
        r.join(seen, "user_id")
        .crossJoin(F.broadcast(n_items))
        .withColumn(
            # interaction_id is pre-reduced mod a prime BEFORE the hash
            # multiply: round-6 ids carry 2^32 tie bits, so id*HASH_A would
            # overflow int64 (Spark wraps silently, DuckDB errors)
            "kept",
            F.slice(
                F.filter(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(NEG_CAND - 1)),
                        lambda j: 1
                        + (
                            (
                                (F.col("interaction_id") % SAMPLE_MOD) * HASH_A
                                + F.col("item_id") * 40503
                            )
                            % F.col("n_items")
                            + j
                        )
                        % F.col("n_items"),
                    ),
                    lambda c: ~F.array_contains(F.col("seen"), c),
                ),
                1,
                NEG_K,
            ),
        )
    )
    return cand.select(
        "user_id",
        "item_id",
        "interaction_id",
        F.posexplode("kept").alias("pos", "neg_item"),
    ).select(
        "user_id",
        "item_id",
        "interaction_id",
        "neg_item",
        (F.col("pos") + 1).cast("long").alias("neg_rank"),
    )


# Feature binning: exact-arithmetic bucket boundaries only (integer floor
# division, modulo, digit extraction) — a log- or quantile-scale bin whose
# edge lands on a libm-rounded boundary can differ between engines in the
# last ulp and flip a bucket; these cannot.
PRICE_BIN_WIDTH = 30000
PRICE_BIN_MAX = 19
HIGH_VALUE_CUT = 150000


@query(
    "feature_binning",
    oracle=f"""
    SELECT o_orderkey,
           LEAST(CAST(FLOOR(o_totalprice / {PRICE_BIN_WIDTH}) AS BIGINT),
                 {PRICE_BIN_MAX}) AS price_bin,
           o_custkey % 100 AS cust_bucket,
           LEAST(CAST(FLOOR(o_totalprice / {PRICE_BIN_WIDTH}) AS BIGINT),
                 {PRICE_BIN_MAX}) * 100 + o_custkey % 100 AS cross_bucket,
           CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS priority_idx,
           CAST(o_totalprice > {HIGH_VALUE_CUT} AS BIGINT) AS is_high_value
    FROM orders
    """,
)
def feature_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X63: model-ready categorical features from raw columns — clipped
    fixed-width price bin, hash bucket, crossed feature, ordinal code from
    the priority string, and a binary flag. Pure per-row JVM expression
    chain: ZERO exchanges, runs at scan speed inside one whole-stage
    codegen span at any scale (plan-asserted in tests/test_plans.py).
    Bin edges use integer floor-division only — see module constant note
    on why no log/quantile edges appear here (quantile binning is
    rfm_segmentation's broadcast-cuts pattern)."""
    o = load_table(spark, sf_dir, "orders")
    price_bin = F.least(
        F.floor(F.col("o_totalprice") / PRICE_BIN_WIDTH).cast("long"),
        F.lit(PRICE_BIN_MAX),
    )
    cust_bucket = F.col("o_custkey") % 100
    return o.select(
        "o_orderkey",
        price_bin.alias("price_bin"),
        cust_bucket.alias("cust_bucket"),
        (price_bin * 100 + cust_bucket).alias("cross_bucket"),
        F.substring("o_orderpriority", 1, 1).cast("long").alias("priority_idx"),
        (F.col("o_totalprice") > HIGH_VALUE_CUT).cast("long").alias("is_high_value"),
    )


# Vocabulary cutoff: keep tokens while the cumulative mass BEFORE the token
# is under VOCAB_MASS_PCT% — compared in exact integer arithmetic
# ((cum - freq) * 100 < pct * total) so no float boundary can flip a flag.
VOCAB_MASS_PCT = 95

_VOCAB_ORACLE = f"""
WITH tok AS (
  SELECT UNNEST({ORACLE_TOKENS}) AS term
  FROM documents WHERE LENGTH(TRIM(text)) > 0
),
f AS (SELECT term, COUNT(*) AS freq FROM tok GROUP BY term),
t AS (SELECT SUM(freq) AS total FROM f),
w AS (SELECT term, freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rnk,
             SUM(freq) OVER (ORDER BY freq DESC, term
                             ROWS UNBOUNDED PRECEDING) AS cum
      FROM f)
SELECT w.term, CAST(w.freq AS BIGINT) AS freq, CAST(w.rnk AS BIGINT) AS rnk,
       ROUND(CAST(w.cum AS DOUBLE) / t.total, 6) AS cum_share,
       CAST((w.cum - w.freq) * 100 < {VOCAB_MASS_PCT} * t.total AS BIGINT)
         AS in_vocab
FROM w CROSS JOIN t
"""


@query("vocab_coverage", oracle=_VOCAB_ORACLE)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X64: tokenizer-style vocabulary build — every distinct token with
    its global frequency rank and cumulative corpus share, flagged
    in-vocab while the mass before it is under VOCAB_MASS_PCT% (the
    frequency-cutoff step of BPE/WordPiece vocab induction).

    The global rank + running mass are a :func:`block_offsets` scan over
    the |vocab|-row frequency table ordered (freq DESC, term) —
    bit-identical to ``ROW_NUMBER()/SUM() OVER (ORDER BY freq DESC,
    term)``, the DuckDB oracle, with no single-partition window. The heavy
    corpus scan collapses to |vocab| rows in the keyed frequency agg
    first; at open-web scale add a min-frequency prefilter before ranking
    (SCALE.md)."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    f = (
        spread(d)
        .select(F.explode(TOKENS()).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    # imported here: the models package costs set-up time for every
    # workload that loads this module and never ranks a vocabulary
    from ..models.common import block_offsets

    blocks, lw, totals = block_offsets(
        f, F.col("freq").desc(), "term", sums=("freq",)
    )
    total = F.lit(totals["_off_freq"])
    cum = F.col("_off_freq") + F.sum("freq").over(
        lw.rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return blocks.select(
        "term",
        "freq",
        (F.col("_row_off") + F.row_number().over(lw)).cast("long").alias("rnk"),
        F.round(cum.cast("double") / total, 6).alias("cum_share"),
        ((cum - F.col("freq")) * 100 < VOCAB_MASS_PCT * total)
        .cast("long")
        .alias("in_vocab"),
    )


# Per-key sampling: K kept per user, chosen by a shared multiplicative
# hash instead of rand() — the deterministic-reservoir stand-in. The full
# ordering key is (hash, interaction, item, rating): everything after the
# hash is tiebreak so engines can only disagree on orderings of fully
# identical rows, which are interchangeable in the output multiset.
SAMPLE_PER_KEY = 3  # SAMPLE_MOD (the hash modulus) is defined next to HASH_A

_SAMPLE_ORACLE = f"""
WITH r AS ({{ratings}}),
h AS (
  SELECT user_id, item_id, interaction_id, rating,
         ((interaction_id % {SAMPLE_MOD}) * {HASH_A}
          + item_id * 40503) % {SAMPLE_MOD} AS hk
  FROM r
)
SELECT user_id, item_id, interaction_id, rating,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY user_id
         ORDER BY hk, interaction_id, item_id, rating) AS BIGINT) AS rn
FROM h
QUALIFY rn <= {SAMPLE_PER_KEY}
"""


@query("sample_per_key", oracle=_SAMPLE_ORACLE.format(ratings=RATINGS_SQL))
def sample_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X76: deterministic K-per-key sampling — the reservoir-sample
    equivalent for bounding per-user training contributions (power users
    otherwise dominate both SGD gradients and CF co-counts; the
    item_cf recency cap is the time-biased sibling of this
    frequency-unbiased one). Hash-ordering instead of rand() means the
    sample is identical across engines, retries, and repartitionings.
    ONE user-keyed ranking window — same shuffle shape as
    dedup_keep_last; at 100 TB the window's per-user state is K rows."""
    from ..data import ratings_cached

    r = ratings_cached(spark, sf_dir)
    hk = (
        (F.col("interaction_id") % SAMPLE_MOD) * HASH_A
        + F.col("item_id") * 40503
    ) % SAMPLE_MOD
    w = W.partitionBy("user_id").orderBy(
        hk, "interaction_id", "item_id", "rating"
    )
    return (
        r.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= SAMPLE_PER_KEY)
        .select("user_id", "item_id", "interaction_id", "rating", "rn")
    )


# Winsorize + robust-scale: clip bounds and the median/IQR come from ONE
# exact-percentile aggregate broadcast onto the rows (the rfm_segmentation
# pattern) — never a global sort. Cut points are ROUNDED so both engines
# clip against bit-identical boundaries.
WINSOR_LO = 0.01
WINSOR_HI = 0.99


@query(
    "feature_winsorize",
    oracle=f"""
    WITH q AS (SELECT ROUND(quantile_cont(o_totalprice, {WINSOR_LO}), 6) AS lo,
                      ROUND(quantile_cont(o_totalprice, {WINSOR_HI}), 6) AS hi,
                      ROUND(quantile_cont(o_totalprice, 0.25), 6) AS q1,
                      ROUND(quantile_cont(o_totalprice, 0.50), 6) AS med,
                      ROUND(quantile_cont(o_totalprice, 0.75), 6) AS q3
               FROM orders)
    SELECT o_orderkey,
           ROUND(LEAST(GREATEST(o_totalprice, q.lo), q.hi), 6) AS clipped,
           ROUND((o_totalprice - q.med) / (q.q3 - q.q1), 6) AS robust_z,
           CAST(o_totalprice < q.lo OR o_totalprice > q.hi AS BIGINT)
             AS was_clipped
    FROM orders CROSS JOIN q
    """,
)
def feature_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X77: winsorization + robust scaling — clip a heavy-tailed feature
    at [p1, p99] (WINSOR_LO/WINSOR_HI) and center/scale
    by median/IQR (outlier-immune, unlike mean/std z-scores). All five
    cut points come from ONE exact-percentile aggregate (same
    interpolated arithmetic as DuckDB quantile_cont, rounded for bit
    parity) broadcast as a single row; scoring is a narrow comparison
    chain — embarrassingly parallel, no global sort anywhere. At
    unbounded cardinality swap percentile → approx_percentile, the
    corpus_quality_filter twin documented in SCALE.md."""
    o = load_table(spark, sf_dir, "orders")
    q = o.agg(
        F.round(F.expr(f"percentile(o_totalprice, {WINSOR_LO})"), 6).alias("lo"),
        F.round(F.expr(f"percentile(o_totalprice, {WINSOR_HI})"), 6).alias("hi"),
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 6).alias("q1"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 6).alias("med"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 6).alias("q3"),
    )
    x = F.col("o_totalprice")
    return o.crossJoin(F.broadcast(q)).select(
        "o_orderkey",
        F.round(F.least(F.greatest(x, F.col("lo")), F.col("hi")), 6).alias(
            "clipped"
        ),
        F.round((x - F.col("med")) / (F.col("q3") - F.col("q1")), 6).alias(
            "robust_z"
        ),
        ((x < F.col("lo")) | (x > F.col("hi"))).cast("long").alias("was_clipped"),
    )


@query(
    "unigram_logprob_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST({ORACLE_TOKENS}) AS term
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    v AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS freq FROM tok
          GROUP BY term),
    t AS (SELECT SUM(freq) AS total FROM v)
    SELECT tok.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(LN(v.freq / t.total)), 6) AS avg_logprob,
           ROUND(EXP(-AVG(LN(v.freq / t.total))), 6) AS perplexity
    FROM tok JOIN v ON tok.term = v.term CROSS JOIN t
    GROUP BY tok.doc_id
    """,
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X78: unigram language-model scoring — per-document mean token
    log-probability under the corpus unigram distribution, and its
    perplexity. The statistical quality filter that catches
    gibberish/boilerplate before expensive model-based scoring (low
    avg_logprob = rare-token soup; very low perplexity = repetitive
    boilerplate) — together with text_repetition_filter and
    corpus_quality_filter this completes the pre-training quality ladder.
    Two corpus scans by design: one collapses to the |vocab|-row unigram
    table (tiny — broadcast onto the second tokenize-and-join pass);
    materializing the tokenized corpus to skip the rescan would cost
    ~|corpus|×|avg tokens| spill at 100 TB, strictly worse than
    re-tokenizing inside codegen. OOV is impossible by construction
    (vocab and scores come from the same corpus snapshot)."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    tok = spread(d).select("doc_id", F.explode(TOKENS()).alias("term"))
    v = tok.groupBy("term").agg(F.count("*").cast("double").alias("freq"))
    t = v.agg(F.sum("freq").alias("total"))
    lp = F.log(F.col("freq") / F.col("total"))
    return (
        tok.join(F.broadcast(v), "term")
        .crossJoin(F.broadcast(t))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(lp), 6).alias("avg_logprob"),
            F.round(F.exp(-F.avg(lp)), 6).alias("perplexity"),
        )
    )


APPORTION_BUDGET = 997  # prime sample budget => nonzero remainders


@query(
    "largest_remainder_apportionment",
    oracle=f"""
    WITH s AS (
        SELECT source, CAST(SUM(n_chars) AS BIGINT) AS w
        FROM documents GROUP BY 1),
    t AS (SELECT CAST(SUM(w) AS BIGINT) AS tot,
                 CAST(COUNT(*) AS BIGINT) AS n_src FROM s),
    b AS (
        SELECT source, w, tot,
               (w * {APPORTION_BUDGET}) // tot AS base,
               w * {APPORTION_BUDGET} - ((w * {APPORTION_BUDGET}) // tot) * tot
                   AS remainder
        FROM s CROSS JOIN t),
    l AS (SELECT CAST({APPORTION_BUDGET} - SUM(base) AS BIGINT) AS leftover
          FROM b),
    r AS (
        SELECT source, w, base, remainder,
               ROW_NUMBER() OVER (ORDER BY remainder DESC, source) AS rk
        FROM b)
    SELECT r.source, r.w AS weight, CAST(r.base AS BIGINT) AS quota_base,
           CAST(r.remainder AS BIGINT) AS remainder,
           CAST(CASE WHEN r.rk <= l.leftover THEN 1 ELSE 0 END AS BIGINT)
               AS extra,
           CAST(r.base + CASE WHEN r.rk <= l.leftover THEN 1 ELSE 0 END
                AS BIGINT) AS quota
    FROM r CROSS JOIN l
    ORDER BY source
    """,
)
def largest_remainder_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X266: largest-remainder (Hamilton) apportionment — split a fixed
    sample budget of {APPORTION_BUDGET} slots across corpus sources in
    proportion to their total characters: floor each exact quota, then
    hand the leftover slots to the largest fractional remainders. This
    is the quota-sampling step a training-mix pipeline runs after
    corpus_mix_rebalance decides target proportions — the only
    allocation rule that both sums EXACTLY to the budget and never
    strays more than one slot from true proportionality. Zero float
    surface: quotas stay as the integer pair (w·N DIV tot, remainder),
    so cross-engine ties in the remainder ranking are impossible to
    misorder (source name is the total tiebreak). Plan: one keyed agg
    to |sources| rows, a 1-row total broadcast, and a bounded-table
    rank window (pmod partition) — the fact scan is the only
    data-sized pass."""
    from ..data import load_table

    s = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").alias("w"))
    )
    t = s.agg(F.sum("w").alias("tot"))
    b = s.crossJoin(F.broadcast(t)).select(
        "source",
        "w",
        F.expr(f"(w * {APPORTION_BUDGET}) DIV tot").alias("base"),
        F.expr(
            f"w * {APPORTION_BUDGET} - ((w * {APPORTION_BUDGET}) DIV tot) * tot"
        ).alias("remainder"),
    )
    leftover = b.agg(
        (F.lit(APPORTION_BUDGET) - F.sum("base")).alias("leftover")
    )
    wrk = W.partitionBy(F.pmod(F.length("source"), F.lit(1))).orderBy(
        F.col("remainder").desc(), "source"
    )
    r = b.withColumn("rk", F.row_number().over(wrk))
    return (
        r.crossJoin(F.broadcast(leftover))
        .select(
            "source",
            F.col("w").alias("weight"),
            F.col("base").alias("quota_base"),
            "remainder",
            (F.col("rk") <= F.col("leftover")).cast("long").alias("extra"),
            (
                F.col("base")
                + (F.col("rk") <= F.col("leftover")).cast("long")
            ).alias("quota"),
        )
        .orderBy("source")
    )
