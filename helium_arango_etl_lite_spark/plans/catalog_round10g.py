"""Round-10 widening (session 3, fifth wave): rank-agreement and
conversion-latency readouts.

* ``llm_eval_rbo`` — Rank-Biased Overlap (Webber, Moffat & Zobel 2010)
  between the full BM25 top-10 and a tf-only top-10 of the SAME query
  terms: the top-weighted agreement measure for INDEFINITE rankings,
  where plain Kendall/Spearman need both lists to cover the same
  items — here it quantifies how much idf + length normalization
  reorder the retrieval head. Per-depth weights (1-p)p^(d-1)/d are
  injected as identical 12dp literals into both engines (the nDCG
  discount-table discipline), overlap@d is an exact integer, so every
  term is one literal*integer product and the running RBO is
  deterministic.
* ``events_conversion_latency`` — signup-to-purchase latency
  distribution: each purchase pairs with the user's most recent
  preceding signup (the events_attribution carry window, carrying the
  TIMESTAMP this time), and latencies bucket into hour-granularity
  bins capped at 24+ — the activation-funnel readout next to
  agg_event_funnel (which counts stage reach, not time-to-convert).
  One user-keyed window shuffle; the histogram is 26 rows at any
  corpus size.
* ``stream_attribution_replay`` — last-touch attribution as a STATEFUL
  STREAM verified against the identical batch oracle: one nullable
  string of state per user, purchases emit credit rows append-style,
  and the family gains its cross-batch-carry member (a touch in
  micro-batch 1 must credit a purchase in micro-batch 3).

Reference parity note: the reference ETL (helium-arango-etl-lite) has
none of these; they extend the north-star eval/analytics families
(SURVEY.md section 2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog_llm import _BM25_TERMS, _bm25_sql
from .catalog_round10d import _ATTR_SQL
from .registry import EVENTS_NORM, load_events, load_table, register

# ---------------------------------------------------------------------------
# Rank-Biased Overlap between the lexical and dense top-K rankings
# ---------------------------------------------------------------------------

_RBO_D = 10
_RBO_P = 0.9
# (1-p) * p^(d-1) / d, fixed as 12dp literals shared by both engines so
# neither side computes a transcendental.
_RBO_W = [
    round((1 - _RBO_P) * _RBO_P ** (d - 1) / d, 12)
    for d in range(1, _RBO_D + 1)
]


def _rbo_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    tf = f"""
SELECT doc_id, count(*)::BIGINT AS tf
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents)
WHERE tok IN ({terms})
GROUP BY doc_id ORDER BY tf DESC, doc_id LIMIT {_RBO_D}"""
    weights = ", ".join(
        f"({d}, {w!r})" for d, w in enumerate(_RBO_W, start=1)
    )
    return f"""
WITH lexs AS ({_bm25_sql(_RBO_D)}),
lex AS (SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
        FROM lexs),
tfs AS ({tf}),
tfr AS (SELECT doc_id,
               row_number() OVER (ORDER BY tf DESC, doc_id) AS rank
        FROM tfs),
common AS (SELECT greatest(l.rank, t.rank) AS first_d
           FROM lex l JOIN tfr t USING (doc_id)),
w AS (SELECT * FROM (VALUES {weights}) AS t(d, wt)),
ov AS (SELECT w.d, w.wt,
              (SELECT count(*) FROM common WHERE first_d <= w.d)::BIGINT
                AS overlap
       FROM w)
SELECT d::BIGINT AS d, overlap,
       round(sum(wt * overlap) OVER (ORDER BY d), 6)::DOUBLE AS rbo
FROM ov"""


@register(
    "llm_eval_rbo",
    _rbo_sql(),
    doc=f"Rank-Biased Overlap (p={_RBO_P}, depth {_RBO_D}) between the "
        "full BM25 ranking and a tf-only ranking of the SAME query "
        "terms — the top-weighted agreement measure for indefinite "
        "rankings (Webber, Moffat & Zobel 2010): rbo at depth d is "
        "the running sum of (1-p)p^(d-1)/d * overlap@d, and here it "
        "quantifies exactly how much the idf + length-normalization "
        "terms REORDER the head versus raw term counts. Overlap@d "
        "needs only each common doc's max(rank_a, rank_b); per-depth "
        "weights are injected as identical 12dp literals into both "
        "engines (the nDCG discount discipline), so every term is one "
        "literal*integer product — no transcendental, no float-sum "
        "ambiguity at 10 terms. SCALE: both rankers are shuffle-free "
        "scan + TakeOrdered; RBO itself touches two 10-row lists "
        "(left-joined per depth, so even disjoint rankings yield the "
        "full 10-row zero curve rather than an empty frame).",
    tags=("llm", "eval", "similarity"),
)
def llm_eval_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm import text

    docs = load_table(spark, sf_dir, "documents")
    lex = text.bm25_search(docs, list(_BM25_TERMS), k=_RBO_D).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("rl"),
    )
    tf = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), "doc_id")
        .limit(_RBO_D)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("tf"), F.asc("doc_id")))
            .alias("rv"),
        )
    )
    common = lex.join(tf, "doc_id").select(
        F.greatest("rl", "rv").alias("first_d")
    )
    w = spark.createDataFrame(
        list(enumerate(_RBO_W, start=1)), "d long, wt double"
    )
    # LEFT join so all depths survive a zero-overlap pair of rankings
    # (two disjoint top-10s are a legitimate — and interesting — result)
    ov = (
        w.join(
            F.broadcast(common), F.col("first_d") <= F.col("d"), "left"
        )
        .groupBy("d", "wt")
        .agg(F.count("first_d").cast("long").alias("overlap"))
    )
    run = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return ov.select(
        "d",
        "overlap",
        F.round(F.sum(F.col("wt") * F.col("overlap")).over(run), 6)
        .alias("rbo"),
    )


# ---------------------------------------------------------------------------
# signup-to-purchase latency histogram
# ---------------------------------------------------------------------------

_LAT_CAP_H = 24

_LATENCY_SQL = f"""WITH {EVENTS_NORM},
tagged AS (SELECT user_id, ts, event_id, event_type,
                  last_value(CASE WHEN event_type = 'signup' THEN ts END
                             IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS last_signup
           FROM events_norm)
SELECT least(epoch_us(ts - last_signup) // 3600000000,
             {_LAT_CAP_H})::BIGINT AS hours,
       count(*)::BIGINT AS n
FROM tagged
WHERE event_type = 'purchase' AND last_signup IS NOT NULL
GROUP BY 1"""


@register(
    "events_conversion_latency",
    _LATENCY_SQL,
    doc="Signup-to-purchase conversion latency histogram: each purchase "
        "pairs with the user's most recent PRECEDING signup via the "
        "same last-non-null carry window as events_attribution "
        "(carrying the timestamp instead of the type; purchases "
        "before any signup are excluded, not guessed), and latencies "
        f"bucket at hour granularity capped at {_LAT_CAP_H}+ so the "
        "readout is bounded at any corpus size. The time-to-convert "
        "readout agg_event_funnel's stage counts do not give. "
        "Latency arithmetic is integer microseconds end to end; ONE "
        "user-keyed shuffle, shared shape with every sessionization "
        "entry.",
    tags=("analytics", "window", "events"),
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    signup_ts = F.when(F.col("event_type") == "signup", F.col("ts"))
    tagged = ev.withColumn(
        "last_signup", F.last(signup_ts, ignorenulls=True).over(w)
    )
    lat_h = F.expr(
        "(unix_micros(ts) - unix_micros(last_signup)) div 3600000000"
    )
    return (
        tagged.filter(
            (F.col("event_type") == "purchase")
            & F.col("last_signup").isNotNull()
        )
        .groupBy(
            F.least(lat_h, F.lit(_LAT_CAP_H)).cast("long").alias("hours")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# ---------------------------------------------------------------------------
# attribution as a stateful stream, verified against the batch oracle
# ---------------------------------------------------------------------------


@register(
    "stream_attribution_replay",
    _ATTR_SQL,
    doc="Last-touch attribution as a STATEFUL STREAM, hash-verified "
        "against the IDENTICAL batch oracle (events_attribution's "
        "SQL): events replay as three event-time-split micro-batches; "
        "applyInPandasWithState carries ONE nullable string per user "
        "(the most recent touch type), and each purchase emits one "
        "credit row the moment it is seen — append semantics, so the "
        "reader is a plain channel rollup with no last-wins dedup. "
        "The sixth member of the batch=stream equivalence family "
        "(totals, CUSUM, sessions, SCD2, CDC): this one pins "
        "CROSS-BATCH carry — a touch in batch 1 must still credit a "
        "purchase in batch 3 "
        "(streaming/stateful.py:attribution_stream).",
    tags=("streaming", "stateful", "analytics"),
)
def stream_attribution_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.replay import replay, time_slices
    from ..streaming.stateful import attribution_stream

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.row_number().over(w).cast("long").alias("seq"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    # one execution for min/max + all three slices (see catalog_round8)
    base = base.persist()
    slices = [s.drop("ts_us") for s in time_slices(base, "ts_us")]
    outs = replay(
        spark, "stream_attr", [slices], attribution_stream,
        mode="update", sink=None, key=None,
    )
    base.unpersist()
    return outs.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("conversions"),
        F.sum("cents").cast("long").alias("cents"),
    )
