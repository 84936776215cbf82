"""Round-12 catalog: the two operator items the r11 verdict named
(items 7 and 8; its other asks were batch rotation, bench baseline
selection, and adjudication — done in-place, not operators).

* ``llm_ann_ivf_pq_persist`` — the persisted-index lifecycle for the
  IVF-PQ family (r11 verdict item 7): ``llm_ann_ivf_pq`` re-derives its
  centroids and codebook on every call, which is fine for one query but
  wrong for the build-nightly/search-all-day deployment the graph-ANN
  family already certifies (``llm_ann_graph_persist``). This entry
  (1) TRAINS the IVF centroids (deterministic md5-ordered fixed-K seed
  set, Lloyd-refined since round 13 — r12 verdict item 3 — so cell
  sizes are balanced, not sample-luck) and the PQ codebook,
  and ENCODES the corpus to ``(vec_id, cell, code_0..3)``; (2) PERSISTS
  the encoded corpus through ``operators/storage.write_bucketed``
  PARTITIONED BY cell (probe filters prune whole cell directories at
  plan time) and BUCKETED BY vec_id (fetch/rerank joins stay
  shuffle-free), plus the centroids and codebook as small side tables;
  (3) LOADS everything back; (4) SEARCHES a query batch using ONLY the
  read-back artifacts: probe the nprobe nearest cells per query against
  the read centroids, build per-query ADC lookup tables from the read
  codebook, scan only the probed partitions, and rank by asymmetric
  distance. The oracle recomputes train->encode->probe->ADC-search in
  SQL (block/LUT generators shared with ``llm_ann_ivf_pq``), so one
  driver hash certifies the whole lifecycle.

* ``stream_heavy_hitters_replay`` — stateful streaming top-k (r11
  verdict item 8): ``llm_heavy_hitters_cms``'s docstring claims the
  sketch is "mergeable cell-wise across executors/micro-batches"; this
  entry uses that literally. Token-occurrence cell increments replay as
  three parquet micro-batches through a built-in streaming ``sum``
  grouped BY CELL — the state store holds exactly the depth*width
  sketch cells (bounded regardless of stream volume; an exact streaming
  top-k would hold the whole Zipf-tailed vocabulary). The latest
  update-mode emission per cell is the sketch; estimation + top-k run
  batch-side over it, and the result must hash-equal the one-shot batch
  sketch — the oracle IS the batch entry's SQL, extending the
  batch=stream equivalence family from sums/CUSUM/CDC to sketches.

* ``stream_session_ooo_replay`` — OUT-OF-ORDER sessionization: the
  existing ``stream_session_replay`` (round 8b) replays event-time-split
  batches, so its state can be just the open session. This entry splits
  by ``event_id % 3`` instead — every batch spans the whole timeline,
  late events land BETWEEN existing sessions and must FUSE them — and
  the stateful operator keeps the user's full interval list (bounded by
  session count) with a classic interval merge. Same gap semantics,
  same gaps-and-islands oracle, now certified under adversarial
  arrival order — the late-data case a watermarked ``session_window``
  only handles within its horizon.

Reference parity note: the reference ETL (follower.py:55-294) maintains
no indexes, sketches, or sessions; all three entries are scale-path
operators the 100 TB deployment needs beyond the reference's surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.replay import _replay_dir, mod_slices, replay
from .catalog_llm import EMB_DIM, IVF_K
from .catalog_round5 import (
    _adc_lut_sql, _CMS_D, _CMS_K, _CMS_SQL, _CMS_W, _pq_block_sql,
    _PQ_BLOCKS, _PQ_CODES,
)
from .registry import load_table, register

# ---------------------------------------------------------------------------
# persisted IVF-PQ index: train -> persist -> load -> search
# ---------------------------------------------------------------------------

_IPQ_NPROBE = 2
_IPQ_QMOD = 50     # query batch: vec_id % 50 == 0 (10 queries at sf0.01)
_IPQ_TOPK = 5
_IPQ_BUCKETS = 4

_COS6 = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)

_IPQ_LLOYD_ITERS = 1  # k-means refinement rounds inside ivf_pq_build


def _lloyd_c_sql(corpus: str) -> str:
    """CTE chain producing the Lloyd-refined centroid relation ``c``
    from the md5-ordered seed set over ``corpus`` — the SQL unroll of
    one operators/llm/similarity.lloyd_refine iteration (r12 verdict
    item 3): E-step = rounded-cosine argmax (tie larger cid, the shared
    IVF rule), M-step = per-(cell, dim) mean rounded to 6dp before
    reuse (the same round(avg, 6) llm_kmeans_iter hashes), empty cells
    keep their seed centroid via the LEFT JOIN + coalesce.
    """
    return f"""c0 AS (SELECT vec_id AS cid, v AS cv FROM {corpus}
      ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {IVF_K}),
asg0 AS (SELECT vec_id, cell FROM (
    SELECT t.vec_id, c0.cid AS cell,
           row_number() OVER (PARTITION BY t.vec_id
               ORDER BY {_COS6.format(a='t.v', b='c0.cv')} DESC, c0.cid DESC) AS rn
    FROM {corpus} t, c0) WHERE rn = 1),
mstep AS (SELECT cell, dim, round(avg(x), 6) AS m FROM (
    SELECT asg0.cell, unnest(t.v) AS x,
           unnest(generate_series(1, len(t.v))) AS dim
    FROM {corpus} t JOIN asg0 USING (vec_id)) GROUP BY 1, 2),
refined AS (SELECT cell AS cid, list(m ORDER BY dim) AS cv
            FROM mstep GROUP BY 1),
c AS (SELECT c0.cid, coalesce(refined.cv, c0.cv) AS cv
      FROM c0 LEFT JOIN refined USING (cid))"""


def _ivf_pq_cand_sql(corpus: str, cb_sql: str | None = None) -> str:
    """CTE chain from the refined centroid relation ``c`` (produced by
    :func:`_lloyd_c_sql`) through the ADC candidate relation ``cand``
    (qid, vec_id, adc_dist). ``corpus`` is the TRAINING relation —
    'e' for the full-corpus build, 'old' for the append lifecycle —
    and feeds only the codebook; encode (``asg``/``codes``) and the
    query/probe/LUT chain always run over ``e``, matching
    ivf_pq_encode's frozen-artifact contract. ``cb_sql`` overrides the
    default md5-seed codebook CTE body (round 13: the TRAINED codebook
    recall twin injects ``list(cv ORDER BY code) FROM tcb``). Shared by
    the persist, append, and recall oracles.
    """
    blocks = range(_PQ_BLOCKS)
    if cb_sql is None:
        cb_sql = (
            f"SELECT list(v ORDER BY vec_id) AS cbs\n"
            f"       FROM (SELECT vec_id, v FROM {corpus} "
            f"ORDER BY vec_id LIMIT {_PQ_CODES})"
        )
    return (
        f"""asg AS (SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cid AS cell,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY {_COS6.format(a='e.v', b='c.cv')} DESC, c.cid DESC) AS rn
    FROM e, c) WHERE rn = 1),
cb AS ({cb_sql}),
d AS (SELECT vec_id, """
        + ", ".join(f"{_pq_block_sql(bi)} AS db_{bi}" for bi in blocks)
        + """ FROM e, cb),
codes AS (SELECT vec_id, """
        + ", ".join(
            f"list_position(db_{bi}, list_min(db_{bi})) AS code_{bi}"
            for bi in blocks
        )
        + f""" FROM d),
qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % {_IPQ_QMOD} = 0),
probe AS (SELECT qid, cid FROM (
    SELECT qs.qid, c.cid,
           row_number() OVER (PARTITION BY qs.qid
               ORDER BY {_COS6.format(a='c.cv', b='qs.qv')} DESC, c.cid DESC) AS rn
    FROM qs, c) WHERE rn <= {_IPQ_NPROBE}),
luts AS (SELECT qid, """
        + ", ".join(f"{_adc_lut_sql(bi)} AS lut_{bi}" for bi in blocks)
        + """ FROM qs, cb),
cand AS (SELECT p.qid, a.vec_id,
                round("""
        + " + ".join(f"l.lut_{bi}[co.code_{bi}]" for bi in blocks)
        + """, 6) AS adc_dist
         FROM probe p
              JOIN asg a ON a.cell = p.cid
              JOIN codes co ON co.vec_id = a.vec_id
              JOIN luts l ON l.qid = p.qid
         WHERE a.vec_id <> p.qid)"""
    )


_IPQ_RANK_SQL = f"""SELECT qid, vec_id, rnk, adc_dist FROM (
    SELECT qid, vec_id, adc_dist,
           row_number() OVER (PARTITION BY qid
               ORDER BY adc_dist ASC, vec_id ASC)::INT AS rnk
    FROM cand) WHERE rnk <= {_IPQ_TOPK}"""


def _ivf_pq_persist_sql() -> str:
    return (
        f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_lloyd_c_sql('e')},
{_ivf_pq_cand_sql('e')}
{_IPQ_RANK_SQL}"""
    )


@register(
    "llm_ann_ivf_pq_persist",
    _ivf_pq_persist_sql(),
    doc="PERSISTED IVF-PQ index (r11 verdict item 7): train the "
        f"{IVF_K}-cell IVF centroid set (md5-ordered fixed-K seeds + "
        f"{_IPQ_LLOYD_ITERS} Lloyd iteration — r12 verdict item 3: the "
        "k-means M-step balances cell sizes, which is what makes the "
        "nprobe/K scan fraction hold on skewed corpora; means round to "
        "6dp before reuse so both engines carry identical centroids) "
        "and the "
        f"{_PQ_CODES}-entry/{_PQ_BLOCKS}-block PQ codebook; encode the "
        "corpus to (vec_id, cell, codes); persist the encoded corpus "
        "via storage.write_bucketed PARTITIONED BY cell + BUCKETED BY "
        "vec_id (probe filters prune cell directories at plan time — "
        "PartitionFilters in the scan — and id joins stay pre-hashed), "
        "with the centroids/codebook as side tables; then LOAD "
        "everything back and ADC-search a query batch "
        f"(vec_id % {_IPQ_QMOD} == 0, top-{_IPQ_TOPK}, "
        f"nprobe={_IPQ_NPROBE}) using only read-back artifacts: the "
        "per-query LUT build touches the 8-row codebook, the scan "
        "reads ~nprobe/K of the corpus as 4-byte codes, never floats. "
        "All similarities/distances round before every argmax/argmin "
        "(ties: larger cid for cells, lower code for PQ, lower vec_id "
        "for rank) so both engines pick identical cells, codes, and "
        "ranks. SCALE: train is one O(n*K) broadcast pass + O(n*codes) "
        "encode; search cost is independent of build (probed "
        "partitions only) — the economics the persisted graph index "
        "already certifies, now for the quantized family.",
    tags=("llm", "similarity", "ann", "storage", "scale"),
)
def llm_ann_ivf_pq_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.similarity import (
        _as_double, ivf_pq_adc_search, ivf_pq_build,
    )
    from ..operators.storage import write_bucketed

    scratch = _replay_dir("ivf_pq_persist")
    emb = load_table(spark, sf_dir, "embeddings")

    # ---- TRAIN + ENCODE (shared kernel with the round-12 soak) ---------
    index, cents, cb = ivf_pq_build(
        emb, num_centroids=IVF_K, n_blocks=_PQ_BLOCKS, n_codes=_PQ_CODES,
        dim=EMB_DIM, lloyd_iters=_IPQ_LLOYD_ITERS,
    )

    # ---- PERSIST: partition-pruned + pre-hashed layout ------------------
    write_bucketed(
        index, "sg_ivfpq_codes", ["vec_id"], num_buckets=_IPQ_BUCKETS,
        sort_cols=["vec_id"], mode="overwrite",
        path=os.path.join(scratch, "codes"), partition_cols=["cell"],
    )
    cents.write.mode("overwrite").parquet(os.path.join(scratch, "centroids"))
    cb.write.mode("overwrite").parquet(os.path.join(scratch, "codebook"))

    # ---- LOAD + SEARCH against the stored index only ---------------------
    qs = emb.select(
        F.col("vec_id").alias("qid"), _as_double("embedding").alias("qv")
    ).filter(F.col("qid") % _IPQ_QMOD == 0)
    return ivf_pq_adc_search(
        qs,
        spark.table("sg_ivfpq_codes"),
        spark.read.parquet(os.path.join(scratch, "centroids")),
        spark.read.parquet(os.path.join(scratch, "codebook")),
        dim=EMB_DIM, n_blocks=_PQ_BLOCKS, nprobe=_IPQ_NPROBE,
        topk=_IPQ_TOPK,
    )


# ---------------------------------------------------------------------------
# streaming heavy hitters: CMS maintained in per-cell state
# ---------------------------------------------------------------------------


@register(
    "stream_heavy_hitters_replay",
    _CMS_SQL,
    doc="Stateful streaming top-k via a Count-Min Sketch maintained in "
        "per-cell state (r11 verdict item 8): documents replay as three "
        "parquet micro-batches; each batch's cell increments (same "
        "hash32 buckets as the batch sketch — shared cms_token_buckets) "
        "are MAP-SIDE COMBINED to per-cell partial counts before the "
        "state store (exact — CMS cells are additive), so the shuffle "
        "into the built-in streaming sum is "
        f"bounded at {_CMS_D}x{_CMS_W} rows per batch regardless of "
        "token volume, and the state store holds exactly the sketch "
        "cells — the CMS's cell-wise mergeability used literally (an "
        "exact streaming top-k would keep the full Zipf vocabulary in "
        "state). "
        "The last update-mode emission per cell is the sketch; "
        "candidate estimation + top-k run batch-side over it "
        "(shared cms_estimate_topk), and the oracle IS the batch "
        "entry's SQL — the batch=stream equivalence family (totals, "
        "CUSUM, CDC, rollup) extended to sketches.",
    tags=("streaming", "stateful", "sketch", "llm"),
)
def stream_heavy_hitters_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.text import (
        cms_cell_increments, cms_estimate_topk, cms_token_buckets,
    )
    from ..streaming.stateful import cms_cells_stream

    docs = load_table(spark, sf_dir, "documents")
    slices = [
        cms_cell_increments(
            cms_token_buckets(batch, depth=_CMS_D, width=_CMS_W),
            depth=_CMS_D,
        )
        # map-side combine BEFORE the state store: each batch ships
        # <= depth*width pre-summed cells instead of one row per
        # token occurrence (exact — CMS cells are additive)
        .groupBy(F.col("d").cast("int").alias("d"),
                 F.col("b").cast("int").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        for batch in mod_slices(docs, "doc_id", 3)
    ]
    cells = replay(
        spark, "stream_cms", [slices], cms_cells_stream,
        mode="update", sink=None, key=["d", "b"],
    ).select("d", "b", F.col("c").cast("long").alias("c"))
    tb = cms_token_buckets(docs, depth=_CMS_D, width=_CMS_W).localCheckpoint(
        eager=False
    )
    return cms_estimate_topk(tb, cells, depth=_CMS_D, k=_CMS_K)


# ---------------------------------------------------------------------------
# out-of-order sessionization: late events FUSE sessions, exactly
# ---------------------------------------------------------------------------


def _sess_ooo_sql() -> str:
    from .catalog_round8b import _SESS_SQL

    return _SESS_SQL


@register(
    "stream_session_ooo_replay",
    _sess_ooo_sql(),
    doc="OUT-OF-ORDER streaming sessionization: the same gap semantics "
        "as stream_session_replay, but the three micro-batches split by "
        "event_id % 3 instead of event time — every batch spans the "
        "whole timeline, so events routinely arrive BETWEEN already-"
        "formed sessions and must FUSE them (the failure mode the "
        "in-order entry's open-session state cannot express, and that "
        "the native session_window handles only within its watermark "
        "horizon). State per user is the full interval list [(start, "
        "end, n, cents)] — bounded by SESSION count, not event count; "
        "each batch a user appears in re-emits their whole current "
        "session list and the reader keeps the last emission batch per "
        "user, making the final rows a pure function of the complete "
        "event set. The oracle is the identical gaps-and-islands SQL "
        "as the in-order entry — one semantics, now certified under "
        "adversarial arrival (streaming/stateful.py:sessionize_ooo).",
    tags=("streaming", "stateful", "temporal"),
)
def stream_session_ooo_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import sessionize_ooo
    from .registry import load_events

    ev = load_events(spark, sf_dir)
    base = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    base = base.persist()  # one execution for all three batch slices
    slices = [s.drop("event_id") for s in mod_slices(base, "event_id", 3)]
    # every row of each user's last emission batch: the whole session list
    outs = replay(
        spark, "stream_sess_ooo", [slices], sessionize_ooo,
        mode="update", sink=None, key=["user_id"],
    )
    base.unpersist()
    return outs.select(
        "user_id",
        F.timestamp_micros(F.col("session_start_us")).alias("session_start"),
        "n_events",
        F.col("total_value_c").alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# nearest-direction as-of join: closest match either side, tie backward
# ---------------------------------------------------------------------------


def _asof_nearest_sql() -> str:
    from .registry import EVENTS_NORM

    return f"""WITH {EVENTS_NORM},
purch AS (
  SELECT user_id, ts,
         max_by(value, event_id) AS purchase_value,
         max(event_id) AS purchase_event
  FROM events_norm WHERE event_type = 'purchase'
  GROUP BY user_id, ts)
SELECT e.event_id, e.user_id, e.ts, e.event_type,
       CASE WHEN pb.ts IS NOT NULL
                 AND (pf.ts IS NULL OR e.ts - pb.ts <= pf.ts - e.ts)
            THEN pb.purchase_value ELSE pf.purchase_value END
         AS purchase_value,
       CASE WHEN pb.ts IS NOT NULL
                 AND (pf.ts IS NULL OR e.ts - pb.ts <= pf.ts - e.ts)
            THEN pb.purchase_event ELSE pf.purchase_event END
         AS purchase_event
FROM events_norm e
ASOF LEFT JOIN purch pb
  ON e.user_id = pb.user_id AND e.ts >= pb.ts
ASOF LEFT JOIN purch pf
  ON e.user_id = pf.user_id AND e.ts < pf.ts"""


@register(
    "join_asof_nearest",
    _asof_nearest_sql(),
    doc="As-of join, NEAREST direction (pandas merge_asof("
        "direction='nearest')): every event gets its user's CLOSEST "
        "purchase in either time direction, exact ties to the prior "
        "row. One shuffle, same as backward-only: both the backward "
        "last-ignorenulls fill and the forward first-ignorenulls fill "
        "run over the SAME (user, ts, side) sort — two frames inside "
        "one WindowExec after one Exchange — and the winner is a "
        "per-row distance comparison on the carried whole-row structs "
        "(operators/temporal.py:asof_join_nearest). The forward frame "
        "starts strictly after the current row, so an equal-timestamp "
        "purchase is only ever a backward match at distance zero — "
        "which the tie rule then always picks, keeping Spark and the "
        "oracle's (ASOF >= pb) + (ASOF < pf) + CASE identical at "
        "boundaries. Oracle: two native ASOF joins + the distance CASE.",
    tags=("join", "temporal"),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import asof_join_nearest
    from .registry import load_events

    en = load_events(spark, sf_dir)
    purch = (
        en.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max_by("value", "event_id").alias("purchase_value"),
            F.max("event_id").alias("purchase_event"),
        )
    )
    joined = asof_join_nearest(
        en.select("event_id", "ts", "user_id", "event_type"),
        purch,
        key="user_id",
        value_cols=["purchase_value", "purchase_event"],
    )
    return joined.select(
        "event_id", "user_id", "ts", "event_type",
        "purchase_value", "purchase_event",
    )


# ---------------------------------------------------------------------------
# RFM segmentation: three exact global quintiles, no single-task window
# ---------------------------------------------------------------------------


def _rfm_sql() -> str:
    from .registry import EVENTS_NORM

    return f"""WITH {EVENTS_NORM},
p AS (SELECT user_id, max(ts) AS last_p, count(*)::BIGINT AS freq,
             sum(round(value * 100)::BIGINT)::BIGINT AS monetary_c
      FROM events_norm WHERE event_type = 'purchase' GROUP BY 1),
s AS (SELECT user_id, freq, monetary_c,
             ntile(5) OVER (ORDER BY last_p, user_id) AS r_score,
             ntile(5) OVER (ORDER BY freq, user_id) AS f_score,
             ntile(5) OVER (ORDER BY monetary_c, user_id) AS m_score
      FROM p)
SELECT user_id, freq, monetary_c, r_score, f_score, m_score,
       (r_score * 100 + f_score * 10 + m_score)::INT AS segment
FROM s"""


@register(
    "events_rfm_segments",
    _rfm_sql(),
    doc="RFM customer segmentation (the classic recency/frequency/"
        "monetary marketing cut): per purchasing user, quintile scores "
        "on last-purchase time, purchase count, and integer-cents spend "
        "— each an EXACT global ntile(5) computed via "
        "operators/aggregates.distributed_ntile (range repartition + "
        "Arrow local ranks + broadcast offset map), so none of the "
        "three total-order rankings ever drags the user table through "
        "a single-task window; ties break on user_id so both engines "
        "rank identically. Three range shuffles over the PER-USER "
        "table (already one groupBy smaller than the event corpus) + "
        "two id joins; segment = r*100 + f*10 + m.",
    tags=("analytics", "events", "agg", "scale"),
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import distributed_ntile
    from .registry import load_events

    en = load_events(spark, sf_dir)
    p = (
        en.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_p"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("monetary_c"),
        )
    )
    p = p.localCheckpoint(eager=False)  # three ntile passes share it
    r = distributed_ntile(p.select("user_id", "last_p"), ["last_p", "user_id"], 5)
    f_ = distributed_ntile(p.select("user_id", "freq"), ["freq", "user_id"], 5)
    m = distributed_ntile(
        p.select("user_id", "monetary_c"), ["monetary_c", "user_id"], 5
    )
    out = (
        p.select("user_id", "freq", "monetary_c")
        .join(r.select("user_id", F.col("ntile").alias("r_score")), "user_id")
        .join(f_.select("user_id", F.col("ntile").alias("f_score")), "user_id")
        .join(m.select("user_id", F.col("ntile").alias("m_score")), "user_id")
    )
    return out.select(
        "user_id", "freq", "monetary_c", "r_score", "f_score", "m_score",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).cast("int").alias("segment"),
    )


# ---------------------------------------------------------------------------
# IVF-PQ incremental ingest: encode against FROZEN artifacts, append
# ---------------------------------------------------------------------------

_IPQ_APP_MOD = 10  # ingest batch: vec_id % 10 == 0 (the graph-family split)


def _ivf_pq_append_sql() -> str:
    return (
        f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
old AS (SELECT * FROM e WHERE vec_id % {_IPQ_APP_MOD} != 0),
{_lloyd_c_sql('old')},
{_ivf_pq_cand_sql('old')}
{_IPQ_RANK_SQL}"""
    )


@register(
    "llm_ann_ivf_pq_append",
    _ivf_pq_append_sql(),
    doc="IVF-PQ INCREMENTAL INGEST — the daily half of the persisted-"
        "index lifecycle (llm_ann_ivf_pq_persist is the nightly half): "
        f"train centroids+codebook on the OLD corpus (vec_id % "
        f"{_IPQ_APP_MOD} != 0; seeds + {_IPQ_LLOYD_ITERS} Lloyd "
        "iteration over that corpus only) and persist its encoded "
        "codes; then "
        "encode the ingest batch against the FROZEN artifacts READ "
        "BACK from storage — never a codebook re-derived from the "
        "batch, which would silently make old and new codes "
        "incomparable (operators/llm/similarity.py:ivf_pq_encode, the "
        "kernel both halves share) — and APPEND it into the same "
        "cell-partitioned vec_id-bucketed table with mode='append'; "
        "finally ADC-search the query batch over the read-back UNION. "
        "Ingest cost is O(batch x K) encode + an append write touching "
        "only the batch's cell partitions — never a rebuild (the "
        "llm_ann_index_append economics, now for the quantized "
        "family). Oracle: centroids/codebook from the old subset, "
        "every vector encoded against them, identical probe/LUT/rank "
        "chain.",
    tags=("llm", "similarity", "ann", "storage", "scale"),
)
def llm_ann_ivf_pq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.similarity import (
        _as_double, ivf_pq_adc_search, ivf_pq_build, ivf_pq_encode,
    )
    from ..operators.storage import write_bucketed

    scratch = _replay_dir("ivf_pq_append")
    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % _IPQ_APP_MOD != 0)
    new = emb.filter(F.col("vec_id") % _IPQ_APP_MOD == 0)

    # ---- NIGHTLY: train on the old corpus, persist index + artifacts ---
    index_old, cents, cb = ivf_pq_build(
        old, num_centroids=IVF_K, n_blocks=_PQ_BLOCKS, n_codes=_PQ_CODES,
        dim=EMB_DIM, lloyd_iters=_IPQ_LLOYD_ITERS,
    )
    write_bucketed(
        index_old, "sg_ivfpq_codes_app", ["vec_id"],
        num_buckets=_IPQ_BUCKETS, sort_cols=["vec_id"], mode="overwrite",
        path=os.path.join(scratch, "codes"), partition_cols=["cell"],
    )
    cents.write.mode("overwrite").parquet(os.path.join(scratch, "centroids"))
    cb.write.mode("overwrite").parquet(os.path.join(scratch, "codebook"))

    # ---- DAILY: encode the ingest batch against READ-BACK artifacts ----
    cents_r = spark.read.parquet(os.path.join(scratch, "centroids"))
    cb_r = spark.read.parquet(os.path.join(scratch, "codebook"))
    increment = ivf_pq_encode(
        new.select("vec_id", _as_double("embedding").alias("v")),
        cents_r, cb_r, n_blocks=_PQ_BLOCKS, dim=EMB_DIM,
    )
    write_bucketed(
        increment, "sg_ivfpq_codes_app", ["vec_id"],
        num_buckets=_IPQ_BUCKETS, sort_cols=["vec_id"], mode="append",
        path=os.path.join(scratch, "codes"), partition_cols=["cell"],
    )

    # ---- SEARCH the appended table ---------------------------------------
    qs = emb.select(
        F.col("vec_id").alias("qid"), _as_double("embedding").alias("qv")
    ).filter(F.col("qid") % _IPQ_QMOD == 0)
    return ivf_pq_adc_search(
        qs,
        spark.table("sg_ivfpq_codes_app"),
        cents_r, cb_r,
        dim=EMB_DIM, n_blocks=_PQ_BLOCKS, nprobe=_IPQ_NPROBE,
        topk=_IPQ_TOPK,
    )
