package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators.{ImportanceWeights, Merge, QualityModel, Retrieval, Sampling, Sharding}

/** Dataset-maintenance and retrieval query surface: keyed MERGE/diff (the
  * distributed form of the reference's whole-file rewrite,
  * `/root/reference/main.py:85-86`), BM25 lexical retrieval, and
  * deterministic corpus sampling. Oracle SQL mirrors the Spark arithmetic
  * expression-for-expression per the determinism rules in [[ParityQueries]].
  */
object MaintenanceQueries {

  private def customer(s: SparkSession, dir: String) =
    Tables.load(s, dir, "customer")

  // o_catalog_rangescan's catalog (session + ranged layout + skipping
  // index) memoizes per (SparkSession, sfDir) through [[SessionScoped]] —
  // a cached Catalog holds that session's checkpointed stats, so it must
  // never be served to another.
  private def docs(s: SparkSession, dir: String) =
    Tables.load(s, dir, "documents")

  /** The timestamp-ranged events catalog shared by o_catalog_tsrange /
    * o_sql_tsrange: the events table range-clustered on `ts`.
    */
  private def tsRangedCatalog(s: SparkSession,
                              dir: String): graft.core.Catalog =
    SessionScoped.memo(s, s"tsRangedCatalog:$dir") {
      val c = new graft.core.Catalog(s)
      c.openFrom("ev_ranged",
        Tables.loadEvents(s, dir)
          .select("event_id", "user_id", "event_type", "ts", "value"),
        Seq("event_id"))
      c.buildRangedLayout("ev_ranged", "ts", files = 8)
      c
    }

  /** The TYPED 2-D catalog shared by o_catalog_ts_zorder /
    * o_sql_ts_zorder: the events table Morton-clustered on
    * (ts × user_id) — each dimension bucketized in its own type
    * (r10 verdict task #7), so the dominant events-table predicate
    * (a time window × an entity range) prunes on BOTH dimensions.
    */
  private def tsZorderCatalog(s: SparkSession,
                              dir: String): graft.core.Catalog =
    SessionScoped.memo(s, s"tsZorderCatalog:$dir") {
      val c = new graft.core.Catalog(s)
      c.openFrom("ev_z",
        Tables.loadEvents(s, dir)
          .select("event_id", "user_id", "event_type", "ts", "value"),
        Seq("event_id"))
      c.buildZOrderedLayout("ev_z", Seq("ts", "user_id"), files = 16)
      c
    }

  /** The 3-D z-ordered events catalog shared by o_catalog_zorder3 /
    * o_sql_zorder3: time × entity × type, every dimension in its own
    * type (r11 verdict task #8).
    */
  private def zorder3Catalog(s: SparkSession,
                             dir: String): graft.core.Catalog =
    SessionScoped.memo(s, s"zorder3Catalog:$dir") {
      val c = new graft.core.Catalog(s)
      c.openFrom("ev_z3",
        Tables.loadEvents(s, dir)
          .select("event_id", "user_id", "event_type", "ts", "value"),
        Seq("event_id"))
      c.buildZOrderedLayout("ev_z3", Seq("ts", "user_id", "event_type"),
        files = 16)
      c
    }

  /** Deterministic changeset for the MERGE queries: every 7th customer gets
    * a balance bump (update), every 50th is re-keyed +1_000_000 (insert).
    */
  private def changeset(t: DataFrame): DataFrame =
    t.filter(col("c_custkey") % 7 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 100.0)
      .unionByName(
        t.filter(col("c_custkey") % 50 === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000L))

  /** DuckDB mirror of [[changeset]] + [[Merge.upsert]] over `customer`. */
  private val upsertCte =
    """src AS (
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal,
      |         c_mktsegment
      |  FROM customer WHERE c_custkey % 7 = 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, c_mktsegment
      |  FROM customer WHERE c_custkey % 50 = 0),
      |merged AS (
      |  SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
      |  FROM customer c WHERE c.c_custkey NOT IN (SELECT c_custkey FROM src)
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM src)"""
      .stripMargin

  /** Unrolled GD rounds of the logistic-regression quality model — mirror
    * of [[graft.operators.QualityModel.trainLogReg]] (T=5, lr=0.5): per-doc
    * contributions rounded to 9dp and summed as DECIMAL (order-free), new
    * weights re-rounded to 9dp doubles each round. The feature CTE reuses
    * the quality-gate signal mirrors; x2/x3 are the gate's *rounded*
    * outputs, the label the gate's unrounded keep predicate — exactly the
    * Spark side's column provenance.
    */
  private def qualityLrCtes(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      val p = "(1.0/(1.0+exp(-(w.w0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3))))"
      val gs = (0 to 3).map(j =>
        s"sum(CAST(round(($p - f.y) * f.x$j, 9) AS DECIMAL(20,9))) AS g$j")
        .mkString(",\n|      ")
      val ws = (0 to 3).map(j =>
        s"round(w.w$j - 0.5 * (CAST(g.g$j AS DOUBLE) / CAST(g.n AS DOUBLE)), 9) AS w$j")
        .mkString(",\n|      ")
      s"""g$i AS (SELECT
         |      $gs,
         |      count(*) AS n
         |    FROM f CROSS JOIN w${i - 1} w),
         |w$i AS (SELECT
         |      $ws
         |    FROM g$i g CROSS JOIN w${i - 1} w)"""
    }.mkString(",\n|")
    s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |q AS (${OracleIdioms.qualitySignalsSql}),
       |f AS (SELECT doc_id, 1.0 AS x0, n_words / 100.0 AS x1,
       |        round(uniq_ratio, 6) AS x2, round(mean_wl, 6) / 10.0 AS x3,
       |        CASE WHEN ${OracleIdioms.keptPredicateSql}
       |             THEN 1.0 ELSE 0.0 END AS y
       |      FROM q WHERE n_words > 0),
       |w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
       |$rounds""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    /** MERGE upsert: daily-delta maintenance of a keyed snapshot. One
      * anti-join exchange + union; AQE broadcasts the small changeset.
      */
    "o_upsert" -> ((s, dir) => {
      val t = customer(s, dir)
      Merge.upsert(t, changeset(t), Seq("c_custkey")).orderBy("c_custkey")
    }),

    /** Dynamic partition overwrite — the backfill/repair primitive: revise
      * ONE partition's rows and rewrite only that partition in place
      * (partitionOverwriteMode=dynamic replaces exactly the partitions
      * present in the incoming frame; static overwrite would truncate the
      * whole dataset). The read-back must equal corpus-with-revision.
      */
    "o_partition_overwrite" -> ((s, dir) => {
      val d = docs(s, dir)
      val out = graft.io.Scratch.dir(s, "po_docs")
      graft.io.Formats.writePartitioned(d, out, Seq("lang"))
      d.filter(col("lang") === "en")
        .withColumn("n_chars", col("n_chars") * 2)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang").parquet(out)
      s.read.parquet(out)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    /** Point-in-time dimension join: each order picks the customer-dim
      * version valid AT its order date — the canonical fact × SCD2 lookup,
      * expressed as the existing as-of join (merge-and-carry-forward, one
      * shuffle, O(1) state per key), not a version range join. Dim
      * history: base version from 1990, +100 balance revision from
      * 1998-06-01 for every 7th customer.
      */
    "j_pit" -> ((s, dir) => {
      val c = customer(s, dir)
      val v1 = c.select(col("c_custkey").as("k"), col("c_acctbal").as("bal"),
        lit("1990-01-01 00:00:00").cast("timestamp").as("ts"))
      val v2 = c.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey").as("k"),
          (col("c_acctbal") + 100.0).as("bal"),
          lit("1998-06-01 00:00:00").cast("timestamp").as("ts"))
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("k"),
          col("o_orderdate").as("ts"))
      graft.operators.AsOfJoin.asofBackward(orders, v1.unionByName(v2),
          "k", "ts", carry = Seq("bal"))
        .select(col("o_orderkey"), col("k").as("o_custkey"),
          col("asof_bal").as("bal_at_order"))
        .orderBy("o_orderkey")
    }),

    /** Full I/U/D MERGE: deletes (every 13th key not also updated),
      * updates (every 7th), re-keyed inserts (every 50th, +1M). validate
      * on: exercises the duplicate-key and unknown-op fast-fail path.
      */
    "o_changeset" -> ((s, dir) => {
      val t = customer(s, dir)
      val dels = t.filter(col("c_custkey") % 13 === 0 && col("c_custkey") % 7 =!= 0)
        .withColumn("op", lit("D"))
      val upds = t.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        .withColumn("op", lit("U"))
      val ins = t.filter(col("c_custkey") % 50 === 0)
        .withColumn("c_custkey", col("c_custkey") + 1000000L)
        .withColumn("op", lit("I"))
      Merge.applyChangeset(t, dels.unionByName(upds).unionByName(ins),
        Seq("c_custkey"), validate = true).orderBy("c_custkey")
    }),

    /** Compliance purge (right-to-erasure shape): a keyed victim list is
      * deleted from its home table and cascaded through the FK chain
      * (customer → orders → lineitem), with a per-table audit row —
      * before / deleted / after — the evidence a deletion request demands.
      * The victim keys broadcast (a deletion list is always small next to
      * the corpus); each cascade level is one anti/semi equi-join keyed on
      * the FK, so the whole purge is three shuffle-free-or-one-shuffle
      * passes, never a rewrite of untouched partitions.
      */
    "o_purge" -> ((s, dir) => {
      val cust = customer(s, dir)
      val ords = Tables.load(s, dir, "orders")
      val li = Tables.load(s, dir, "lineitem")
      val victims = cust.filter(col("c_custkey") % 17 === 0)
        .select(col("c_custkey").as("k"))
      val keepCust = cust.join(broadcast(victims),
        cust("c_custkey") === victims("k"), "left_anti")
      val purgedOrders = ords.join(broadcast(victims),
        ords("o_custkey") === victims("k"), "left_semi")
        .select(col("o_orderkey").as("ok"))
      val keepOrders = ords.join(broadcast(victims),
        ords("o_custkey") === victims("k"), "left_anti")
      val keepLi = li.join(purgedOrders,
        li("l_orderkey") === purgedOrders("ok"), "left_anti")
      def audit(name: String, before: DataFrame, after: DataFrame) =
        before.agg(count(lit(1)).as("rows_before"))
          .crossJoin(after.agg(count(lit(1)).as("rows_after")))
          .select(lit(name).as("table_name"), col("rows_before"),
            (col("rows_before") - col("rows_after")).as("rows_deleted"),
            col("rows_after"))
      audit("customer", cust, keepCust)
        .unionByName(audit("orders", ords, keepOrders))
        .unionByName(audit("lineitem", li, keepLi))
        .orderBy("table_name")
    }),

    /** Snapshot diff: added/removed/changed/same per key between the base
      * table and its post-merge, partially-retired successor.
      */
    "o_snapshot_diff" -> ((s, dir) => {
      val t = customer(s, dir)
      val next = Merge.upsert(t, changeset(t), Seq("c_custkey"))
        .filter(col("c_custkey") % 13 =!= 3)
      Merge.snapshotDiff(t, next, Seq("c_custkey")).orderBy("c_custkey")
    }),

    /** BM25 retrieval over the document corpus for a fixed term set —
      * scores every matching doc; corpus stats and per-term df are
      * broadcast, so the only data-sized shuffle is the (doc, term) agg.
      */
    "t_bm25" -> ((s, dir) =>
      Retrieval.bm25(docs(s, dir), "doc_id", "text",
        Seq("merge", "vector", "spark")).orderBy("doc_id")),

    /** Stream-MAINTAINED BM25: the corpus arrives as 3 micro-batches and
      * [[graft.streaming.EventStreams.postingsMaintain]] unions each
      * batch's (doc, term, tf, dl) rows into the at-rest index (new docs
      * are new keys — the union IS the merge) while a per-doc sidecar
      * row accumulates nDocs/avgdl exactly. Scores served from the
      * maintained index must be digit-identical to the one-shot
      * full-corpus BM25 — t_bm25's oracle, reused verbatim.
      */
    "st_bm25" -> ((s, dir) => {
      val (postings, n, avgdl) =
        SessionScoped.memo(s, s"stBm25:$dir") {
          val d = docs(s, dir).select("doc_id", "text")
          val scratch = java.nio.file.Files
            .createTempDirectory("st_bm25_").toString + "/src"
          (0 until 3).foreach { i =>
            d.filter(pmod(col("doc_id"), lit(3)) === i)
              .coalesce(1).write.mode("append").parquet(scratch)
            Thread.sleep(20) // distinct mtimes → deterministic order
          }
          graft.streaming.EventStreams.postingsMaintain(s, scratch,
            "doc_id", "text", buckets = 8, "st_bm25")
        }
      Retrieval.bm25FromPostings(s, postings, buckets = 8, n, avgdl,
          "doc_id", Seq("merge", "vector", "spark"))
        .orderBy("doc_id")
    }),

    /** Stratified corpus sampling, deterministic by md5(doc_id) — the
      * language-rebalancing step of a training mix. Pure scan-local filter.
      */
    "t_sample_strat" -> ((s, dir) =>
      Sampling.stratifiedSample(docs(s, dir), "lang", "doc_id",
        Map("en" -> 0.3, "zh" -> 1.0, "fr" -> 0.5), defaultRate = 0.1)
        .select("doc_id", "lang").orderBy("doc_id")),

    /** Length-weighted sampling: longer docs kept proportionally more
      * often, capped at probability 1. Same stable-hash mechanics.
      */
    "t_sample_weighted" -> ((s, dir) =>
      Sampling.weightedSample(docs(s, dir), "doc_id", col("n_chars"),
        rate = 0.8, maxWeight = 600.0)
        .select("doc_id", "n_chars").orderBy("doc_id")),

    /** Token-budgeted shard plan: exclusive running token sum in doc order
      * → shard index, computed with per-partition windows + offsets (no
      * global single-partition sort).
      */
    "t_shard_plan" -> ((s, dir) =>
      Sharding.shardByTokenBudget(docs(s, dir), "doc_id",
        TextFunctions.tokenCount(col("text")), budget = 5000L)
        .orderBy("doc_id")),

    /** Mixture rebalance: downsample-only re-weighting of the corpus to a
      * 40/25/20/15 target language mix (whichever stratum is most
      * underrepresented keeps 100% and caps the feasible total). Rates are
      * derived from a one-row-per-lang count aggregate; the keep filter is
      * the deterministic hash sample, so the kept set is reproducible on
      * any partitioning and in SQL.
      */
    "t_mix_rebalance" -> ((s, dir) =>
      Sampling.rebalanceToMix(docs(s, dir), "doc_id", "lang",
        Map("en" -> 0.40, "zh" -> 0.25, "es" -> 0.20, "fr" -> 0.15))
        .select("doc_id", "lang").orderBy("doc_id")),

    /** Sequence packing (concat-and-chunk): per-language context-window
      * assignment — each doc's start/end chunk and offset when its
      * language's corpus is concatenated in id order and cut every 2048
      * tokens. The running sum is a window keyed on lang, so every
      * language packs independently (no global state).
      */
    "t_pack_windows" -> ((s, dir) =>
      Sharding.packContextWindows(docs(s, dir), "doc_id", "lang",
        TextFunctions.tokenCount(col("text")), budget = 2048L)
        .orderBy("doc_id")),

    /** Sequence packing (greedy no-split): per-language whole-document
      * bins — the SFT-style packing where examples never cross bin
      * boundaries. Sequential running-sum-with-reset via the secondary
      * sort idiom; oracle replays the same recurrence as a recursive CTE.
      */
    "t_pack_greedy" -> ((s, dir) =>
      Sharding.packGreedy(docs(s, dir), "doc_id", "lang",
        TextFunctions.tokenCount(col("text")), budget = 2048L)
        .orderBy("doc_id")),

    /** Curriculum packing: greedy no-split bins filled in priority order —
      * longest documents first (n_chars as the curriculum signal), so
      * early bins hold the highest-priority examples. Same O(1)-state
      * streaming pass as t_pack_greedy with a (priority desc, id) packing
      * order; (n_chars, doc_id) is a total order so the bins are
      * deterministic.
      */
    "t_pack_curriculum" -> ((s, dir) =>
      Sharding.packGreedy(docs(s, dir), "doc_id", "lang",
        TextFunctions.tokenCount(col("text")), budget = 2048L,
        orderBy = Seq(col("n_chars").desc, col("doc_id")))
        .orderBy("doc_id")),

    /** DSIR importance scores: hashed-unigram log-likelihood ratio of the
      * English slice (target) against the whole corpus (raw) — the "score
      * every raw document by how target-like it is" step of importance
      * resampling. See [[graft.operators.ImportanceWeights]] for the scale
      * shape and the decimal-sum determinism argument.
      */
    "t_dsir_score" -> ((s, dir) =>
      ImportanceWeights.score(docs(s, dir), "doc_id", "text",
        targetPred = col("lang") === "en").orderBy("doc_id")),

    /** DSIR Gumbel top-k resample: 100 docs drawn without replacement with
      * probability ∝ exp(score), deterministically (the Gumbel noise is the
      * doc id's md5-uniform). Distributed top-k, no global window.
      */
    "t_dsir_resample" -> ((s, dir) =>
      ImportanceWeights.resample(docs(s, dir), "doc_id", "text",
        targetPred = col("lang") === "en", k = 100).orderBy("doc_id")),

    /** Distilled quality model: 5 rounds of exact full-batch logistic
      * regression over the gate signals, then a calibrated per-doc score.
      * Each round is one distributed aggregate; the model is 4 numbers.
      */
    "t_quality_lr_score" -> ((s, dir) =>
      QualityModel.scored(docs(s, dir), "doc_id", "text").orderBy("doc_id")),

    /** The learned weights themselves — the oracle replays all 5 GD rounds
      * in SQL, so a green row certifies the whole training trajectory, not
      * just the final scoring pass.
      */
    "t_quality_lr_weights" -> ((s, dir) =>
      QualityModel.weights(docs(s, dir), "doc_id", "text")),

    /** Reliability (calibration) curve for the trained quality model:
      * predictions bucket into ten equal-width bins and each bin compares
      * its mean prediction against the empirical label rate — the
      * standard is-the-classifier-calibrated audit before its scores gate
      * a corpus. Prediction sums go through decimal so the bin means are
      * order-exact; one aggregate over the scored relation.
      */
    "t_quality_lr_calibration" -> ((s, dir) =>
      QualityModel.scored(docs(s, dir), "doc_id", "text")
        .select(least(lit(9), floor(col("lr_score") * 10).cast("int"))
          .as("bin"), col("lr_score"), col("label"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("lr_score").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("avg_pred"),
          round(sum(col("label")).cast("double") / count(lit(1)), 6)
            .as("label_rate"))
        .orderBy("bin")),

    /** ROC AUC of the trained quality model (Mann–Whitney form with the
      * standard ½-credit for score ties) — the discrimination audit beside
      * the calibration curve. No global rank anywhere: scores round to 6dp,
      * so the score axis has a FIXED domain (≤10^6+1 values however large
      * the corpus) and the whole statistic runs on the per-score
      * (positives, negatives) histogram with one bounded cumulative walk —
      * the same counts-of-counts discipline as e_power_users. 2·P·N·AUC =
      * Σ_s np_s·(2·negBelow(s) + nn_s) stays BIGINT until the one final
      * division.
      */
    "t_quality_lr_auc" -> ((s, dir) =>
      graft.operators.RankStats.auc(
        QualityModel.scored(docs(s, dir), "doc_id", "text"),
        "lr_score", "label")),

    /** Per-source data scorecard — the vendor/crawl-stream comparison a
      * curation team reads before renegotiating a data mix: per source,
      * volume (docs, tokens), the quality-gate keep rate, and the
      * exact-duplicate rate (docs minus distinct canonical fingerprints).
      * One tokenize pass feeds all columns; every rate is an integer
      * ratio rounded once.
      */
    "t_source_scorecard" -> ((s, dir) => {
      val d = docs(s, dir)
      val gate = graft.operators.CorpusSignals.qualityGate(d, "doc_id", "text")
        .select(col("doc_id"), col("kept"))
      val base = d.select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("nt"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      val fpd = base.groupBy("source", "fp")
        .agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum(col("c") - 1).as("dup_docs"))
      base.join(gate, Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
          sum("kept").as("kept_docs"))
        .join(fpd, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("kept_docs").cast("double") /
            col("n_docs").cast("double"), 6).as("kept_rate"),
          round(col("dup_docs").cast("double") /
            col("n_docs").cast("double"), 6).as("dup_rate"))
        .orderBy("source")
    }),

    /** SCD2 invariant audit — run against the dimension HISTORY ARTIFACT
      * (here: the o_scd2 build pushed through a parquet round-trip, i.e.
      * what a consumer actually reads): per key exactly one current
      * version, and adjacent versions tile time with no gap or overlap.
      * The checks are one per-key aggregate and one lag comparison inside
      * the same key-partitioned window sort the history was built with;
      * all-zero violation columns are the contract.
      */
    "o_scd2_audit" -> ((s, dir) => {
      val hist = Merge.scd2History(
        Tables.load(s, dir, "orders")
          .select("o_custkey", "o_orderkey", "o_totalprice", "o_orderdate"),
        keys = Seq("o_custkey"), orderCol = "o_orderdate",
        tieBreak = Seq("o_orderkey"))
      val out = graft.io.Scratch.dir(s, "scd2_audit")
      hist.select("o_custkey", "o_orderkey", "version", "valid_from",
        "valid_to", "is_current").write.mode("overwrite").parquet(out)
      val h = s.read.parquet(out)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("version"))
      val lagged = h.select(col("o_custkey"), col("version"),
        col("valid_from"), col("valid_to"), col("is_current"),
        lag("valid_to", 1).over(w).as("prev_to"))
      val perKey = lagged.groupBy("o_custkey")
        .agg(count(lit(1)).as("nv"), sum("is_current").as("nc"),
          sum(when(col("prev_to").isNotNull &&
            col("prev_to") =!= col("valid_from"), 1L).otherwise(0L))
            .as("tile_viol"))
      perKey.groupBy().agg(count(lit(1)).as("n_keys"),
        sum("nv").as("n_versions"),
        sum(when(col("nc") === 1, 1L).otherwise(0L))
          .as("keys_with_one_current"),
        sum("tile_viol").as("tiling_violations"))
    }),

    /** Order-independent table content digest — the replica-equality
      * primitive: sum of per-row md5 fingerprints (mod 2^60 by
      * construction) plus the row count. Two tables are content-equal iff
      * digests match regardless of partitioning, file layout, or row
      * order — the check that validates a migration/compaction/export
      * without shipping either table. One map pass + one 2-column
      * aggregate. The digest leaves the engine as a STRING: the sum is a
      * 23-digit DECIMAL(38,0), and any consumer pipeline that narrows it
      * through float64 (pandas, JSON, most dashboards) silently loses the
      * low digits — a digest that sometimes compares via float is worse
      * than no digest, so the exact decimal is stringified at the boundary
      * on BOTH engines.
      */
    "o_table_digest" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      // doubles go through DECIMAL(18,2) before stringifying: both
      // engines print decimals identically, where raw double formatting
      // (shortest-repr vs scientific cutoffs) is an engine trap
      val rowFp = conv(substring(md5(concat_ws("|",
          col("l_orderkey").cast("string"),
          col("l_linenumber").cast("string"),
          col("l_partkey").cast("string"),
          col("l_quantity").cast("decimal(18,2)").cast("string"),
          col("l_extendedprice").cast("decimal(18,2)").cast("string"),
          col("l_returnflag"))),
        1, 15), 16, 10).cast("long")
      li.select(rowFp.as("fp"))
        .groupBy().agg(count(lit(1)).as("n_rows"),
          sum(col("fp").cast("decimal(20,0)")).cast("decimal(38,0)")
            .cast("string").as("digest"))
    }),

    /** Referential-integrity audit over the star schema's FK edges: per
      * edge, child row count, orphan rows (no matching parent), and
      * distinct orphan keys — the "can I trust my joins" check that runs
      * before any fact-dim query ships. Each edge is ONE pass over its
      * child: a broadcast left join against the (distinct) parent key set
      * marks orphans, and a single aggregate computes all three counts in
      * the same scan — no eager per-edge `.count()` loop, so lineitem is
      * read once per edge it appears in and the whole four-leg union stays
      * lazy until the driver materializes the report. (The synthetic
      * schema is FK-clean, so the expected orphan column is zero — the
      * audit proves it rather than assumes it.)
      */
    "o_fk_audit" -> ((s, dir) => {
      def edge(name: String, child: DataFrame, ck: String,
               parent: DataFrame, pk: String): DataFrame =
        child.select(col(ck).as("k"))
          .join(broadcast(parent.select(col(pk).as("k")).distinct()
            .withColumn("__hit", lit(1))), Seq("k"), "left")
          .agg(count(lit(1)).as("n_child_rows"),
            coalesce(sum(when(col("__hit").isNull, 1L).otherwise(0L)),
              lit(0L)).as("n_orphan_rows"),
            countDistinct(when(col("__hit").isNull, col("k")))
              .as("n_orphan_keys"))
          .select(lit(name).as("fk_edge"), col("n_child_rows"),
            col("n_orphan_rows"), col("n_orphan_keys"))
      val li = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val p = Tables.load(s, dir, "part")
      val na = Tables.load(s, dir, "nation")
      Seq(
        edge("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
        edge("lineitem.l_partkey->part", li, "l_partkey", p, "p_partkey"),
        edge("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
        edge("customer.c_nationkey->nation", c, "c_nationkey", na,
          "n_nationkey"))
        .reduce(_.unionAll(_))
        .orderBy("fk_edge")
    }),

    /** ANALYZE-style column statistics — the table profile a cost-based
      * optimizer (and the a27 sketch sizing) feeds on: per column, null
      * count, exact NDV, and typed min/max, all computed in ONE pass over
      * the fact table (a single aggregate holding every column's
      * expressions — contrast running ANALYZE per column). The long-format
      * fan-out explodes literal structs off the 1-row result, the a26
      * pattern; numeric and string extrema ride separate typed columns
      * rather than a lossy string cast.
      */
    "o_analyze" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val numCols = Seq("l_orderkey", "l_partkey", "l_quantity",
        "l_extendedprice")
      val strCols = Seq("l_returnflag", "l_linestatus")
      val aggs =
        (numCols ++ strCols).flatMap { c => Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
          countDistinct(col(c)).as(s"nd_$c"))
        } ++
        numCols.flatMap { c => Seq(
          min(col(c)).cast("double").as(s"mn_$c"),
          max(col(c)).cast("double").as(s"mx_$c"))
        } ++
        strCols.flatMap { c => Seq(
          min(col(c)).as(s"sn_$c"), max(col(c)).as(s"sx_$c"))
        }
      val m = li.agg(count(lit(1)).as("n"), aggs: _*)
      val rows =
        numCols.map { c =>
          struct(lit(c).as("column"), col("n").as("n_rows"),
            col(s"nn_$c").as("n_nulls"), col(s"nd_$c").as("ndv"),
            col(s"mn_$c").as("min_num"), col(s"mx_$c").as("max_num"),
            lit(null).cast("string").as("min_str"),
            lit(null).cast("string").as("max_str"))
        } ++ strCols.map { c =>
          struct(lit(c).as("column"), col("n").as("n_rows"),
            col(s"nn_$c").as("n_nulls"), col(s"nd_$c").as("ndv"),
            lit(null).cast("double").as("min_num"),
            lit(null).cast("double").as("max_num"),
            col(s"sn_$c").as("min_str"), col(s"sx_$c").as("max_str"))
        }
      m.select(explode(array(rows: _*)).as("r")).select("r.*")
        .orderBy("column")
    }),

    /** Decile lift table for the trained quality model — the third panel
      * of the model audit beside calibration and AUC: rank-order the
      * corpus into ten score deciles and report each decile's positive
      * rate against the base rate. Deciles come from the same per-6dp-
      * score histogram walk as the AUC (exclusive cumulative count →
      * decile = 10·below DIV n, ties sharing a score share a decile), so
      * there is no global sort; decimal score sums keep the per-decile
      * mean exact.
      */
    "t_quality_lr_lift" -> ((s, dir) => {
      val sc = QualityModel.scored(docs(s, dir), "doc_id", "text")
      val h = sc.groupBy("lr_score")
        .agg(count(lit(1)).as("m"), sum("label").as("pos"))
      val below = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1)).orderBy(col("lr_score"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      val tot = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      h.select(col("lr_score"), col("m"), col("pos"),
          coalesce(sum("m").over(below), lit(0L)).as("cb"),
          sum("m").over(tot).as("n"), sum("pos").over(tot).as("p"))
        .select(expr("(cb * 10) DIV n").cast("int").as("decile"),
          col("lr_score"), col("m"), col("pos"), col("n"), col("p"))
        .groupBy("decile", "n", "p")
        .agg(sum("m").as("n_docs"),
          round(sum(col("lr_score").cast("decimal(18,6)") * col("m"))
            .cast("double") / sum("m").cast("double"), 6).as("avg_pred"),
          sum("pos").as("n_pos"))
        .select(col("decile"), col("n_docs"), col("avg_pred"), col("n_pos"),
          round(col("n_pos").cast("double") / col("n_docs").cast("double"),
            6).as("label_rate"),
          round(col("n_pos").cast("double") * col("n").cast("double") /
            (col("n_docs").cast("double") * col("p").cast("double")), 6)
            .as("lift"))
        .orderBy("decile")
    }),

    /** Per-key skew audit — the before-you-join report that decides
      * whether a key needs the salted path (j_skew): per-key counts hash-
      * aggregate once, then totals, the hottest key, the 10×-mean hot-key
      * census, and the integer salt factor ceil(max·K/N) (pieces that cut
      * the hottest key to the mean) all come off the per-key relation with
      * a 1-row broadcast — no sort, nothing driver-sized.
      */
    "o_skew_report" -> ((s, dir) => {
      val perKey = Tables.loadEvents(s, dir).groupBy("user_id")
        .agg(count(lit(1)).as("c"))
      val tot = perKey.groupBy().agg(sum("c").as("n_rows"),
        count(lit(1)).as("n_keys"), max("c").as("max_c"))
      perKey.crossJoin(broadcast(tot))
        .groupBy("n_rows", "n_keys", "max_c")
        .agg(sum(when(col("c") * col("n_keys") > col("n_rows") * 10, 1L)
            .otherwise(0L)).as("hot_keys"),
          min(when(col("c") === col("max_c"), col("user_id")))
            .as("hottest_key"))
        .select(col("n_rows"), col("n_keys"),
          round(col("n_rows").cast("double") / col("n_keys").cast("double"),
            4).as("mean_rows"),
          col("max_c").as("max_key_rows"), col("hottest_key"),
          col("hot_keys"),
          round(col("max_c").cast("double") * col("n_keys").cast("double") /
            col("n_rows").cast("double"), 4).as("skew_ratio"),
          expr("(max_c * n_keys + n_rows - 1) DIV n_rows")
            .as("salt_factor"))
    }),

    /** Training-mix report: docs and token mass per (lang, source) with
      * each cell's share of the corpus — the composition summary every
      * mixture-weighting decision starts from. The share window runs over
      * the already-aggregated frame (dozens of rows), so the unpartitioned
      * window is free at any corpus size.
      */
    "t_mix_report" -> ((s, dir) => {
      val a = docs(s, dir)
        .select(col("lang"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("__nt"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("__nt").as("n_tokens"))
      val all = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
      a.select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") /
          sum("n_tokens").over(all).cast("double"), 6).as("token_share"))
        .orderBy("lang", "source")
    }),

    /** Temperature-scaled mixture weights (α = 0.5): the multilingual-
      * sampling rule q_i ∝ p_i^α that upweights low-resource languages —
      * how much each language's natural token share gets boosted for the
      * training mix. All corpus-sized work is one per-lang hash aggregate;
      * the α-power normalizer runs on the handful of per-lang rows, as an
      * ordered fold (lang order) so the 5-double sum is engine-exact.
      * Output: (lang, n_tokens, token_share p, temp_share q, boost q/p).
      */
    "t_mix_temperature" -> ((s, dir) => {
      val a = docs(s, dir)
        .select(col("lang"),
          TextFunctions.tokenCount(col("text")).cast("long").as("__nt"))
        .groupBy("lang").agg(sum("__nt").as("n_tokens"))
      val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      val p = col("n_tokens").cast("double") /
        sum("n_tokens").over(all).cast("double")
      val withP = a.select(col("lang"), col("n_tokens"),
        p.as("__p"), sqrt(p).as("__sp"))
      val denom = withP.agg(aggregate(
        transform(sort_array(collect_list(struct(col("lang"), col("__sp")))),
          x => x("__sp")),
        lit(0.0), (acc, x) => acc + x).as("__denom"))
      withP.crossJoin(broadcast(denom))
        .select(col("lang"), col("n_tokens"),
          round(col("__p"), 6).as("token_share"),
          round(col("__sp") / col("__denom"), 6).as("temp_share"),
          round(col("__sp") / col("__denom") / col("__p"), 6).as("boost"))
        .orderBy("lang")
    }),

    /** Incremental aggregate maintenance: a "materialized" base aggregate
      * absorbs a day's delta by merging partial states (counts add,
      * decimal sums add exactly) — the base table is never rescanned. The
      * oracle is the from-scratch aggregate; equality IS the incremental-
      * view-maintenance correctness statement.
      */
    "o_incr_agg" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      def partial(df: DataFrame) = df.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("st"))
      val base  = partial(o.filter(col("o_orderkey") % 10 =!= 0))
      val delta = partial(o.filter(col("o_orderkey") % 10 === 0))
      base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(sum("n").as("n"), sum("st").as("st"))
        .select(col("o_orderpriority"), col("n"),
          col("st").cast("double").as("total"))
        .orderBy("o_orderpriority")
    }),

    /** File-level schema evolution (SURVEY §1.3): an old batch written
      * without `n_chars` and a new batch with it are read back as ONE
      * table via mergeSchema — missing columns surface as nulls, no
      * rewrite of the old files.
      */
    "s_schema_evolution" -> ((s, dir) => {
      // per-JVM path (+ overwrite): stable within a run, disjoint across runs
      val out = graft.io.Scratch.dir(s, "evolving")
      val d = docs(s, dir)
      d.filter(col("doc_id") % 2 === 0).select("doc_id", "lang")
        .write.mode("overwrite").parquet(s"$out/b1")
      d.filter(col("doc_id") % 2 === 1).select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$out/b2")
      s.read.option("mergeSchema", "true").parquet(s"$out/b1", s"$out/b2")
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")
    }),

    /** Hive-partitioned write + pruned read: only the lang=zh directory is
      * scanned (PartitionFilters at planning time, zero I/O elsewhere).
      */
    "s_partition_prune" -> ((s, dir) => {
      // per-JVM path (+ overwrite): stable within a run, disjoint across runs
      val out = graft.io.Scratch.dir(s, "docs_by_lang")
      graft.io.Formats.writePartitioned(
        docs(s, dir).select("doc_id", "lang", "n_chars"), out, Seq("lang"))
      s.read.parquet(out).filter(col("lang") === "zh")
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")
    }),

    /** Small-files compaction as a checked lifecycle: fragment the corpus
      * into 16 tiny part files, compact to ~1 range-clustered file, read
      * back — the oracle is the identity (a rewrite that loses or dups a
      * row fails the hash). File-count/clustering invariants live in
      * CompactionSpec; this query pins data fidelity through the swap.
      */
    "o_compact" -> ((s, dir) => {
      val out = graft.io.Scratch.dir(s, "docs_compact")
      docs(s, dir).select("doc_id", "lang", "n_chars")
        .repartition(16).write.mode("overwrite").parquet(out)
      graft.io.Compaction.compact(s, out, targetFileMB = 512,
        clusterBy = Seq("doc_id"))
      s.read.parquet(out).orderBy("doc_id")
    }),

    /** o_compact reached from SQL TEXT (r13 verdict task #2): `OPTIMIZE
      * <session> CLUSTER BY (…)` routes through [[graft.io.Compaction
      * .compact]] against the session's recorded source directory — the
      * last typed-only maintenance gesture now has a SQL twin. Identity
      * oracle through fragment → OPTIMIZE → read-back, same as
      * o_compact: the rewrite must lose/duplicate nothing.
      */
    "o_sql_compact" -> ((s, dir) => {
      val out = graft.io.Scratch.dir(s, "docs_sql_compact") + "/d.parquet"
      docs(s, dir).select("doc_id", "lang", "n_chars")
        .repartition(16).write.mode("overwrite").parquet(out)
      val cat = new graft.core.Catalog(s)
      cat.open("dcomp", out, orderCols = Seq("doc_id"))
      val rep = cat.sql("OPTIMIZE dcomp CLUSTER BY (doc_id)")
      require(rep.head().getString(0) == "optimize",
        "OPTIMIZE must route to the compaction gesture")
      cat.close("dcomp")
      s.read.parquet(out).orderBy("doc_id")
    }),

    /** SQL VACUUM (r13 verdict task #2): a durable catalog builds a
      * ranged layout, a structural overwrite supersedes it, refresh
      * rebuilds into a fresh dir, and `VACUUM <t> RETAIN 0 HOURS`
      * collects the superseded storage — from SQL text. The oracle is
      * the identity: garbage collection must never touch answers.
      */
    "o_sql_vacuum" -> ((s, dir) => {
      val wh = graft.io.Scratch.dir(s, "sqlvac_wh")
      val cat = new graft.core.Catalog(s, Some(wh))
      cat.open("vs", s"$dir/region.parquet",
        orderCols = Seq("r_regionkey"))
      cat.buildRangedLayout("vs", "r_regionkey", files = 2)
      // structural overwrite → the rebuild leaves the old dir behind
      cat.sql("INSERT OVERWRITE vs SELECT * FROM vs")
      cat.refreshStale("vs")
      cat.sql("VACUUM vs RETAIN 0 HOURS")
      val out = cat.sql(
        "SELECT r_regionkey, r_name FROM vs ORDER BY r_regionkey")
      cat.close("vs")
      out
    }),

    /** Multi-statement transaction (r13 verdict task #6): a rolled-back
      * BEGIN/DELETE+INSERT leaves the table byte-identical, and a
      * committed UPDATE persists — both proven against the DuckDB
      * replay. The rollback leg is the strong claim: restoring every
      * touched session's pre-transaction plan reference must lose and
      * duplicate nothing.
      */
    "o_sql_txn" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"sqlTxnCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.open("txr", s"$dir/region.parquet",
          orderCols = Seq("r_regionkey"))
        c.sql("BEGIN")
        require(c.sql("DELETE FROM txr WHERE r_regionkey >= 3")
          .head().getLong(1) == 2, "fixture: delete must hit")
        require(c.sql("INSERT INTO txr VALUES (97, 'ATLANTIS')")
          .head().getLong(1) == 1)
        c.sql("ROLLBACK") // both statements undone
        c.sql("BEGIN")
        c.sql("UPDATE txr SET r_name = lower(r_name)")
        c.sql("COMMIT")   // this one persists
        c
      }
      cat.sql(
        "SELECT r_regionkey, r_name FROM txr ORDER BY r_regionkey")
    }),

    /** The r14 surfaces COMPOSED, end to end in pure SQL: CTAS → SQL
      * snapshot → incident DELETE → transactional recovery whose source
      * is the snapshot (`VERSION AS OF` inside an in-txn INSERT) → a
      * savepoint'd wrong step rolled back to the mark → COMMIT. The
      * oracle is the identity: the playbook must reproduce the original
      * table exactly, proving snapshot + time-travel-DML + txn +
      * savepoint interoperate, not just pass alone.
      */
    "o_sql_incident" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"sqlIncidentCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.open("increg", s"$dir/region.parquet",
          orderCols = Seq("r_regionkey"))
        c.sql("CREATE TABLE inc AS SELECT r_regionkey, r_name FROM increg")
        val e = c.sql("CREATE SNAPSHOT inc").head().getLong(1)
        require(c.sql("DELETE FROM inc WHERE r_regionkey >= 2")
          .head().getLong(1) == 3, "fixture: the incident must hit")
        c.sql("BEGIN")
        require(c.sql(
          s"""INSERT INTO inc
             |SELECT * FROM inc VERSION AS OF $e
             |WHERE r_regionkey >= 2""".stripMargin)
          .head().getLong(1) == 3)
        c.sql("SAVEPOINT recovered")
        c.sql("DELETE FROM inc WHERE r_regionkey = 4") // the wrong step
        c.sql("ROLLBACK TO SAVEPOINT recovered")
        c.sql("COMMIT")
        c
      }
      cat.sql(
        "SELECT r_regionkey, r_name FROM inc ORDER BY r_regionkey")
    }),

    /** Globally-sorted export: range repartition + within-partition sort
      * — NOT a single-partition global sort (no driver funnel): file k's
      * doc_id range ends before file k+1's begins and every file is
      * internally ordered, which is what gives downstream scans ordered
      * row-group statistics and makes the skipping index maximally
      * selective. Identity oracle; the range-disjointness and in-file
      * order are asserted by spec, the no-SinglePartition shape by a
      * plan pin.
      */
    "o_sorted_export" -> ((s, dir) => {
      val out = graft.io.Scratch.dir(s, "docs_sorted")
      docs(s, dir).select("doc_id", "lang", "n_chars")
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out).orderBy("doc_id")
    }),

    /** Min/max file-skipping index over a range-clustered layout
      * ([[graft.io.SkippingIndex]]): lineitem is range-repartitioned on
      * price into 8 part files, a file-count-sized stats relation is
      * built once, and the range query opens only intersecting files —
      * the non-partition-column pruning lever (Delta/Iceberg data
      * skipping). The exact predicate re-applies after pruning, so the
      * oracle is the plain full-scan filter; a spec asserts the pruning
      * actually skipped files.
      */
    /** o_skipping through the r8 layout-routing surface: the session
      * catalog owns the range-clustered layout + skipping index
      * ([[graft.core.Catalog.buildRangedLayout]]) and
      * [[graft.core.Catalog.rangeScan]] serves the predicate from the
      * pruned file set — the caller states the range, never the layout
      * (pruning + staleness fallback pinned in CatalogRoutingSpec).
      * Skipping is a performance contract, never a correctness one, so
      * the oracle is the same plain full-scan filter as o_skipping's.
      */
    "o_catalog_rangescan" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"rangedCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.openFrom("li_ranged",
          Tables.load(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_extendedprice",
              "l_quantity", "l_returnflag"),
          Seq("l_orderkey", "l_linenumber"))
        c.buildRangedLayout("li_ranged", "l_extendedprice", files = 8)
        c
      }
      cat.rangeScan("li_ranged", "l_extendedprice", 1000.0, 5000.0)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    /** o_catalog_rangescan stated as SQL TEXT (r8 verdict task #4): the
      * same catalog, but the caller writes `WHERE l_extendedprice
      * BETWEEN …` and [[graft.plans.SqlLayoutRouting]] rewrites the
      * analyzed plan onto the ranged layout's pruned file set — SQL
      * queries see the skipping index exactly as the typed `rangeScan`
      * entry point does (plan pin in SqlRoutingSpec). Pruning is a
      * performance contract, so the oracle is the plain full-scan
      * filter again.
      */
    "o_sql_rangescan" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"rangedCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.openFrom("li_ranged",
          Tables.load(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_extendedprice",
              "l_quantity", "l_returnflag"),
          Seq("l_orderkey", "l_linenumber"))
        c.buildRangedLayout("li_ranged", "l_extendedprice", files = 8)
        c
      }
      cat.sql(
        """SELECT l_returnflag, count(*) AS n,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM li_ranged
          |WHERE l_extendedprice BETWEEN 1000.0 AND 5000.0
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    /** Range scan over a DML-PATCHED ranged layout (round 10): the
      * layout is built id-keyed (the Delta-Lake deletion-vector +
      * append-log shape), then the session edits one cell and deletes
      * one row and `refreshStale` PATCHES — the clustered base files
      * never rewrite (file pin in RangedDmlSpec) — and the routed scan
      * serves shadow + add-leg composed under the exact predicate. The
      * oracle replays the same two gestures in SQL over raw orders:
      * routing (and patching) changes the plan, never the answer.
      */
    "o_rangescan_dml" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"rangedDmlCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.open("ro_dml", s"$dir/orders.parquet",
          orderCols = Seq("o_orderkey"))
        c.buildRangedLayout("ro_dml", "o_totalprice", files = 8,
          idCol = Some("o_orderkey"))
        val sess = c.get("ro_dml").get
        require(sess.setCell(0L, "o_totalprice", "123456.78"))
        require(sess.deleteRow(1L))
        require(c.refreshStale("ro_dml") == Seq("range:o_totalprice"))
        c
      }
      cat.rangeScan("ro_dml", "o_totalprice", 1000.0, 200000.0)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    /** Time-range scan through a ranged layout on a TIMESTAMP column
      * (round 10): at 100 TB the dominant predicate on an events table
      * is a time window, so the skipping index must prune non-numeric
      * ordered types too — endpoints flow through `lit` (Instant here)
      * and compare in the column's own type, never a double cast.
      * Pruning stays a performance contract: the oracle is the plain
      * filter.
      */
    "o_catalog_tsrange" -> ((s, dir) => {
      val cat = tsRangedCatalog(s, dir)
      cat.rangeScan("ev_ranged", "ts",
          java.time.Instant.parse("2024-01-10T00:00:00Z"),
          java.time.Instant.parse("2024-01-20T00:00:00Z"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    /** The same time window stated as SQL TEXT: the analysis-time route
      * recognizes timestamp bounds (the analyzer has coerced the
      * literals to the column type) and rewrites onto the pruned file
      * set — including ONE-SIDED windows, which the double-only matcher
      * could not express for non-numeric types.
      */
    "o_sql_tsrange" -> ((s, dir) => {
      val cat = tsRangedCatalog(s, dir)
      cat.sql(
        """SELECT event_type, count(*) AS n
          |FROM ev_ranged
          |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    /** TIME × ENTITY rectangle through a TYPED z-ordered layout (r10
      * verdict task #7): events Morton-clustered on (ts, user_id), each
      * dimension bucketized in its own type before the interleave, so
      * the 2-D skipping index prunes part files on BOTH the time window
      * and the user range — where a ts-only clustering serves only the
      * window and a double-only z-order could not hold ts at all.
      * Pruning is a performance contract (exact predicate re-applies),
      * so the oracle is the plain conjunctive filter.
      */
    "o_catalog_ts_zorder" -> ((s, dir) => {
      val cat = tsZorderCatalog(s, dir)
      cat.rangeScanBox("ev_z", Seq(
          ("ts", java.time.Instant.parse("2024-01-10T00:00:00Z"),
            java.time.Instant.parse("2024-01-20T00:00:00Z")),
          ("user_id", 2L, 9L)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    /** The same rectangle as SQL TEXT: [[graft.plans.SqlLayoutRouting]]
      * resolves each dimension's bounds in its own type (timestamp via
      * the interpreted-ordering matcher, numeric via the double fold)
      * and rewrites onto the 2-D-pruned file set.
      */
    "o_sql_ts_zorder" -> ((s, dir) => {
      val cat = tsZorderCatalog(s, dir)
      cat.sql(
        """SELECT event_type, count(*) AS n
          |FROM ev_z
          |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          |  AND ts <= TIMESTAMP '2024-01-20 00:00:00'
          |  AND user_id BETWEEN 2 AND 9
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    /** TIME × ENTITY × TYPE box through the 3-D z-ordered layout (r11
      * verdict task #8): events Morton-clustered on all three typed
      * dimensions — timestamp through its epoch image, the string type
      * axis through an order-preserving dictionary scaled across the
      * interleave's full bit width — so the 3-D skipping index prunes
      * part files on the window, the user range, AND the type equality
      * (the degenerate box). Pruning stays a performance contract: the
      * oracle is the plain conjunctive filter.
      */
    "o_catalog_zorder3" -> ((s, dir) => {
      val cat = zorder3Catalog(s, dir)
      cat.rangeScanBox("ev_z3", Seq(
          ("ts", java.time.Instant.parse("2024-01-10T00:00:00Z"),
            java.time.Instant.parse("2024-01-20T00:00:00Z")),
          ("user_id", 2L, 9L),
          ("event_type", "click", "purchase")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    /** The same 3-D box as SQL TEXT: the analysis-time rule matches
      * bounds on all three of the layout's columns — timestamp via the
      * typed matcher, numeric via the double fold, the string axis via
      * the typed matcher's equality/range forms — and rewrites onto the
      * 3-D-pruned file set.
      */
    "o_sql_zorder3" -> ((s, dir) => {
      val cat = zorder3Catalog(s, dir)
      cat.sql(
        """SELECT event_type, count(*) AS n
          |FROM ev_z3
          |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          |  AND ts <= TIMESTAMP '2024-01-20 00:00:00'
          |  AND user_id BETWEEN 2 AND 9
          |  AND event_type >= 'click' AND event_type <= 'purchase'
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    /** Rectangle predicate through the catalog's Z-ORDERED layout
      * ([[graft.core.Catalog.buildZOrderedLayout]] / `rangeScanBox`):
      * lineitem clustered on the Morton interleave of (extendedprice,
      * quantity), so the 2-D skipping index prunes part files on BOTH
      * dimensions — the multi-column generalization of
      * o_catalog_rangescan (Delta/Iceberg `OPTIMIZE ZORDER BY`).
      * Pruning is a performance contract, so the oracle is the plain
      * conjunctive filter (pruned-file pin in ZOrderLayoutSpec).
      */
    "o_catalog_zorder" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"zorderCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.openFrom("li_z",
          Tables.load(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_extendedprice",
              "l_quantity", "l_returnflag"),
          Seq("l_orderkey", "l_linenumber"))
        c.buildZOrderedLayout("li_z", Seq("l_extendedprice", "l_quantity"),
          files = 16)
        c
      }
      cat.rangeScanBox("li_z", Seq(("l_extendedprice", 1000.0, 5000.0),
          ("l_quantity", 10.0, 20.0)))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    /** o_catalog_zorder stated as SQL TEXT: the rectangle predicate in
      * `catalog.sql` is rewritten onto the z-ordered layout's 2-D-pruned
      * file set by [[graft.plans.SqlLayoutRouting]] (a 2-D route wins
      * over a 1-D ranged route when the predicate bounds both columns).
      * Pruning is a performance contract — the oracle is the plain
      * conjunctive filter again.
      */
    "o_sql_zorder" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"zorderCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.openFrom("li_z",
          Tables.load(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_extendedprice",
              "l_quantity", "l_returnflag"),
          Seq("l_orderkey", "l_linenumber"))
        c.buildZOrderedLayout("li_z", Seq("l_extendedprice", "l_quantity"),
          files = 16)
        c
      }
      cat.sql(
        """SELECT l_returnflag, count(*) AS n,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM li_z
          |WHERE l_extendedprice BETWEEN 1000.0 AND 5000.0
          |  AND l_quantity BETWEEN 10.0 AND 20.0
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    "o_skipping" -> ((s, dir) => {
      val out = graft.io.Scratch.dir(s, "li_ranged")
      Tables.load(s, dir, "lineitem")
        .repartitionByRange(8, col("l_extendedprice"))
        .write.mode("overwrite").parquet(out)
      val stats = graft.io.SkippingIndex.build(s, out, Seq("l_extendedprice"))
      graft.io.SkippingIndex
        .prunedRead(s, stats, out, "l_extendedprice", 1000.0, 5000.0)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    /** SQL DML surface, INSERT leg (r11 verdict task #1): `INSERT INTO
      * <session> SELECT ...` routes through [[graft.core.CatalogDml]] to
      * `appendRows` — position-stamped tail append, RowInserts in the
      * mutation log, layouts delta-patch on the next refresh
      * (SqlDmlSpec pins the byte-identical-base-files law). The query
      * reads the POST-insert state back through SQL text; the oracle
      * replays the insert as a UNION ALL.
      */
    "o_sql_append" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"sqlDmlInsCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.open("sqlins", s"$dir/orders.parquet",
          orderCols = Seq("o_orderkey"))
        val rep = c.sql(
          """INSERT INTO sqlins
            |SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
            |       o_totalprice + 1.0, o_orderdate, o_orderpriority
            |FROM sqlins WHERE o_orderkey % 100 = 1""".stripMargin)
        require(rep.head().getLong(1) > 0, "fixture: insert must append")
        c
      }
      cat.sql(
        """SELECT o_orderstatus, count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
          |FROM sqlins GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    /** SQL DML surface, UPDATE leg: a bounded `UPDATE ... WHERE` applies
      * as typed cell edits through the session's edit log (CellEdits in
      * the mutation log — the same gesture an interactive burst makes),
      * with every right-hand side evaluated against the OLD row. Oracle
      * replays the assignment as CASE WHEN.
      */
    "o_sql_update" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"sqlDmlUpdCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.open("squpd", s"$dir/orders.parquet",
          orderCols = Seq("o_orderkey"))
        val rep = c.sql(
          """UPDATE squpd
            |SET o_orderstatus = concat(o_orderstatus, '!'),
            |    o_totalprice = o_totalprice * 2
            |WHERE o_orderkey % 500 = 3""".stripMargin)
        require(rep.head().getLong(1) > 0, "fixture: update must hit")
        c
      }
      cat.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM squpd WHERE o_orderkey % 500 = 3 OR o_orderkey % 500 = 4
          |ORDER BY o_orderkey""".stripMargin)
    }),

    /** SQL DML surface, DELETE leg: a bounded `DELETE FROM ... WHERE`
      * (subquery condition included — it resolves against the same view
      * window every SELECT uses) applies as the positional delete
      * gesture, so retraction-IVM layouts patch instead of rebuilding.
      * Oracle replays the delete as NOT IN.
      */
    "o_sql_delete" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"sqlDmlDelCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.open("sqdel", s"$dir/orders.parquet",
          orderCols = Seq("o_orderkey"))
        val rep = c.sql(
          """DELETE FROM sqdel
            |WHERE o_custkey IN (SELECT o_custkey FROM sqdel
            |                    WHERE o_custkey % 97 = 0)""".stripMargin)
        require(rep.head().getLong(1) > 0, "fixture: delete must hit")
        c
      }
      cat.sql(
        """SELECT o_orderstatus, count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
          |FROM sqdel GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    /** SQL DML surface, MERGE leg: the full `MERGE INTO ... USING ... ON`
      * statement — conditional matched DELETE, matched UPDATE, and
      * not-matched INSERT — decomposes into the existing typed gestures
      * (cell edits + one positional delete + appendRows), so the merged
      * state is served live AND every layout delta-patches afterwards.
      * Same changeset recipe as `o_changeset`; the oracle replays it
      * relationally.
      */
    "o_sql_upsert" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"sqlDmlMrgCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.open("smt", s"$dir/customer.parquet",
          orderCols = Seq("c_custkey"))
        val t = customer(s, dir)
        val delta = t.filter(col("c_custkey") % 13 === 0 &&
            col("c_custkey") % 7 =!= 0).withColumn("op", lit("D"))
          .unionByName(t.filter(col("c_custkey") % 7 === 0)
            .withColumn("c_acctbal", col("c_acctbal") + 100.0)
            .withColumn("op", lit("U")))
          .unionByName(t.filter(col("c_custkey") % 50 === 0)
            .withColumn("c_custkey", col("c_custkey") + 1000000L)
            .withColumn("op", lit("I")))
        c.openFrom("sdelta", delta, orderCols = Seq("c_custkey", "op"))
        val rep = c.sql(
          """MERGE INTO smt USING sdelta d ON smt.c_custkey = d.c_custkey
            |WHEN MATCHED AND d.op = 'D' THEN DELETE
            |WHEN MATCHED THEN UPDATE SET c_acctbal = d.c_acctbal
            |WHEN NOT MATCHED AND d.op = 'I' THEN INSERT
            |  (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
            |  VALUES (d.c_custkey, d.c_name, d.c_nationkey, d.c_acctbal,
            |          d.c_mktsegment)""".stripMargin)
        require(rep.head().getLong(1) > 0, "fixture: merge must touch rows")
        c
      }
      cat.sql(
        """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
          |FROM smt ORDER BY c_custkey""".stripMargin)
    }),

    /** SQL DDL surface, CTAS leg (r12 verdict task #2): `CREATE TABLE
      * ... AS SELECT` over an open session opens a NEW session over the
      * query result — the plan binds lazily ([[Catalog.openFrom]]) to
      * LIVE source plans (a routed plan would pin layout storage a later
      * vacuum may collect), nothing materializes on the driver — and the
      * new name serves SQL like any opened table. See
      * [[graft.core.CatalogDdl]].
      */
    "o_sql_ctas" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"sqlDdlCtasCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.open("ctsrc", s"$dir/orders.parquet",
          orderCols = Seq("o_orderkey"))
        c.sql(
          """CREATE TABLE ctagg AS
            |SELECT o_orderstatus, o_orderpriority, count(*) AS n,
            |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            |    AS tot
            |FROM ctsrc GROUP BY o_orderstatus, o_orderpriority""".stripMargin)
        c
      }
      cat.sql(
        """SELECT o_orderstatus, o_orderpriority, n, tot FROM ctagg
          |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)
    }),

    /** PARTITIONED BY CTAS (r13 verdict task #7): the result writes as
      * a hive-partitioned dataset (one dir per lang) and the session
      * opens over the written files — downstream readers prune at plan
      * time (pinned by SqlDdlSpec); the oracle is the filtered identity.
      */
    "o_sql_ctas_partitioned" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"sqlCtasPartCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.openFrom("ptsrc", docs(s, dir)
          .select("doc_id", "lang", "n_chars"), Seq("doc_id"))
        val rep = c.sql(
          "CREATE TABLE ptdocs PARTITIONED BY (lang) AS SELECT * FROM ptsrc")
        require(rep.head().getString(0) == "create_table_partitioned")
        c
      }
      cat.sql(
        """SELECT doc_id, lang, n_chars FROM ptdocs
          |WHERE lang = 'zh' ORDER BY doc_id""".stripMargin)
    }),

    /** SQL DDL surface, ADD COLUMN leg: `ALTER TABLE ADD COLUMN name
      * type DEFAULT v` routes through the typed insert-column gesture —
      * a pure projection (no shuffle), logged as a zero-position delta
      * so layouts not referencing the new column delta-handle (pinned by
      * SqlDdlSpec). A second column without DEFAULT takes the engine's
      * typed default (int → 0).
      */
    "o_sql_add_column" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"sqlDdlAddCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.open("sqladd", s"$dir/orders.parquet",
          orderCols = Seq("o_orderkey"))
        c.sql("ALTER TABLE sqladd ADD COLUMN flag STRING DEFAULT 'new'")
        c.sql("ALTER TABLE sqladd ADD COLUMN bonus INT")
        c
      }
      cat.sql(
        """SELECT o_orderkey, o_orderstatus, flag, bonus FROM sqladd
          |WHERE o_orderkey % 50 = 0 ORDER BY o_orderkey""".stripMargin)
    }),

    /** SQL DDL surface, DROP/RENAME COLUMN legs: positional drop through
      * the typed gesture (structural — the reference's P1 semantics) and
      * an in-place rename whose delta names both spellings.
      */
    "o_sql_drop_column" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"sqlDdlDropCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.open("sqldrop", s"$dir/orders.parquet",
          orderCols = Seq("o_orderkey"))
        c.sql("ALTER TABLE sqldrop DROP COLUMN o_orderpriority")
        c.sql("ALTER TABLE sqldrop RENAME COLUMN o_totalprice TO price")
        c
      }
      cat.sql(
        """SELECT o_orderkey, o_orderstatus, price FROM sqldrop
          |WHERE o_orderkey % 50 = 0 ORDER BY o_orderkey""".stripMargin)
    }),

    /** The SQL-only lifecycle from NOTHING (r13): CREATE TABLE with a
      * schema, INSERT VALUES, RENAME TO, UPDATE, DELETE, SELECT — no
      * pre-existing file anywhere. Pins that a session born from DDL
      * text behaves exactly like one opened over parquet.
      */
    "o_sql_lifecycle" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"sqlLifecycleCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.sql("CREATE TABLE sqlfe (k INT, v STRING, x DOUBLE)")
        c.sql(
          "INSERT INTO sqlfe VALUES (1,'a',1.5),(2,'b',2.5),(3,NULL,NULL)")
        c.sql("ALTER TABLE sqlfe RENAME TO sqlfl")
        c.sql("UPDATE sqlfl SET x = x + 1 WHERE k = 2")
        c.sql("DELETE FROM sqlfl WHERE k = 1")
        c
      }
      cat.sql("SELECT k, v, x FROM sqlfl ORDER BY k")
    }),

    /** One-statement row recovery (r13): after a bad DELETE, the exact
      * victim rows come back with `INSERT INTO t SELECT * FROM t VERSION
      * AS OF <pin> WHERE <victim predicate>` — the travel clause
      * resolves INSIDE the DML source query ([[graft.core.CatalogDml]]
      * planRead), so the incident-recovery gesture is one line of SQL.
      * Oracle: the recovered table equals the original (modulo the
      * engine's positional order, hence the ORDER BY).
      */
    "o_sql_recover" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"sqlRecoverCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.open("rcvr", s"$dir/orders.parquet",
          orderCols = Seq("o_orderkey"))
        val epoch = c.pin("rcvr")
        val del = c.sql("DELETE FROM rcvr WHERE o_orderkey % 10 = 3")
        require(del.head().getLong(1) > 0, "fixture: delete must hit")
        val ins = c.sql(
          s"""INSERT INTO rcvr
             |SELECT * FROM rcvr VERSION AS OF $epoch
             |WHERE o_orderkey % 10 = 3""".stripMargin)
        require(ins.head().getLong(1) == del.head().getLong(1),
          "fixture: recovery must re-insert exactly the victims")
        c
      }
      cat.sql(
        """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
          |FROM rcvr ORDER BY o_orderkey""".stripMargin)
    }),

    /** CDC between epochs (r14): after a DML burst (UPDATE + DELETE +
      * INSERT), `DESCRIBE CHANGES <t> FROM VERSION <e>` serves the
      * classified row-level feed — inserts, deletes, and updates with
      * BOTH images — log-served from bounded position filters over the
      * two endpoint plans ([[graft.core.CatalogSnapshots.changes]]; the
      * content-diff fallback is ChangeFeedSpec's territory). Oracle:
      * each class reconstructed from the base table by the DML
      * predicates.
      */
    "o_sql_changes" -> ((s, dir) => {
      val (cat, e0) = SessionScoped.memo(s, s"sqlChangesCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.open("cdcord", s"$dir/orders.parquet",
          orderCols = Seq("o_orderkey"))
        val e = c.get("cdcord").get.epoch
        c.sql("UPDATE cdcord SET o_orderstatus = 'U' " +
          "WHERE o_orderkey % 997 = 3")
        c.sql("DELETE FROM cdcord WHERE o_orderkey % 997 = 5")
        val ins = c.sql(
          """INSERT INTO cdcord
            |SELECT o_orderkey + 5000000, o_custkey, o_orderstatus,
            |  o_totalprice, o_orderdate, o_orderpriority
            |FROM cdcord WHERE o_orderkey % 997 = 7""".stripMargin)
        require(ins.head().getLong(1) > 0, "fixture: insert must append")
        (c, e)
      }
      cat.sql(s"DESCRIBE CHANGES cdcord FROM VERSION $e0")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("_change_type").as("change_type"))
        .orderBy("change_type", "o_orderkey")
    }),

    /** CDC round-trip (r14): the change feed APPLIED to a replica
      * converges it to the source — the incremental-consumer law that
      * makes the feed useful (a downstream sync never re-copies the
      * table). Replica forked by CTAS at the from-epoch; after a DML
      * burst on the source, one keyed DELETE (delete + update_preimage
      * rows) and one INSERT (insert + update_postimage rows) driven by
      * the feed itself reproduce the source exactly. Oracle: the same
      * final state from the base table.
      */
    "o_sql_cdc_sync" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"sqlCdcSyncCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.open("cdsrc", s"$dir/orders.parquet",
          orderCols = Seq("o_orderkey"))
        val e0 = c.get("cdsrc").get.epoch
        c.sql("CREATE TABLE cdrep AS SELECT * FROM cdsrc")
        c.sql("UPDATE cdsrc SET o_orderstatus = 'U' " +
          "WHERE o_orderkey % 997 = 3")
        c.sql("DELETE FROM cdsrc WHERE o_orderkey % 997 = 5")
        c.sql(
          """INSERT INTO cdsrc
            |SELECT o_orderkey + 5000000, o_custkey, o_orderstatus,
            |  o_totalprice, o_orderdate, o_orderpriority
            |FROM cdsrc WHERE o_orderkey % 997 = 7""".stripMargin)
        // the feed itself drives the sync — no table re-copy
        c.openFrom("cdfeed", c.changes("cdsrc", e0), Seq("o_orderkey"))
        c.sql(
          """DELETE FROM cdrep WHERE o_orderkey IN (
            |  SELECT o_orderkey FROM cdfeed
            |  WHERE _change_type IN ('delete', 'update_preimage'))"""
            .stripMargin)
        c.sql(
          """INSERT INTO cdrep
            |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            |  o_orderdate, o_orderpriority
            |FROM cdfeed
            |WHERE _change_type IN ('insert', 'update_postimage')"""
            .stripMargin)
        // the law itself: replica == source, row for row
        val diff = c.sql(
          """(SELECT * FROM cdrep EXCEPT ALL SELECT * FROM cdsrc)
            |UNION ALL
            |(SELECT * FROM cdsrc EXCEPT ALL SELECT * FROM cdrep)"""
            .stripMargin).count()
        require(diff == 0L, s"fixture: sync must converge, diff=$diff")
        c
      }
      cat.sql(
        """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 4) AS price
          |FROM cdrep ORDER BY o_orderkey""".stripMargin)
    }),

    /** `COPY INTO` (r14): SQL bulk file ingest — a CSV lands in the
      * session through the SAME append gesture as INSERT (lazy scan
      * plan, mutation-log RowInserts, layouts delta-patch on the next
      * refresh), with by-name column mapping and session-type casts.
      * The fixture CSV is written with its columns REORDERED to prove
      * the by-name path. Oracle: the base table union the copied slice.
      */
    "o_sql_copy" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"sqlCopyCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.open("cporders", s"$dir/orders.parquet",
          orderCols = Seq("o_orderkey"))
        val csv = graft.io.Scratch.dir(s, "copy_into") + "/batch.csv"
        // shifted keys keep the final ORDER BY unambiguous; shuffled
        // column order exercises the by-name mapping
        graft.io.Formats.write(
          Tables.load(s, dir, "orders")
            .filter(col("o_orderkey") % 101 === 9)
            .withColumn("o_orderkey", col("o_orderkey") + 7000000L)
            .select("o_orderstatus", "o_totalprice", "o_orderkey",
              "o_custkey", "o_orderpriority", "o_orderdate"),
          csv)
        val rep = c.sql(s"COPY INTO cporders FROM '$csv'")
        require(rep.head().getString(0) == "copy" &&
          rep.head().getLong(1) > 0, "fixture: copy must append")
        c
      }
      cat.sql(
        """SELECT o_orderkey, o_orderstatus,
          |  round(o_totalprice, 4) AS price
          |FROM cporders ORDER BY o_orderkey""".stripMargin)
    }),

    /** Materialized view from SQL (r12 verdict task #8): `CREATE
      * MATERIALIZED VIEW` infers and builds the cube + pairs layouts
      * that serve its body, registers the name as a routed view, and the
      * ordinary refresh law maintains it — the INSERT below
      * delta-patches the cube, and the mv read re-merges stored partials
      * (mixed cube ⋈ pairs rewrite), never re-scanning the fact table.
      * See [[graft.core.CatalogDdl]].
      */
    "a_sql_mv" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"sqlMvCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.open("mvord", s"$dir/orders.parquet",
          orderCols = Seq("o_orderkey"))
        c.sql(
          """CREATE MATERIALIZED VIEW ordmv AS
            |SELECT o_orderstatus, count(*) AS n,
            |  CAST(sum(CAST(round(o_totalprice, 6) AS DECIMAL(38,6)))
            |    AS DOUBLE) AS tot,
            |  count(DISTINCT o_custkey) AS cd
            |FROM mvord GROUP BY o_orderstatus""".stripMargin)
        val rep = c.sql(
          """INSERT INTO mvord
            |SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
            |  o_totalprice + 2.0, o_orderdate, o_orderpriority
            |FROM mvord WHERE o_orderkey % 100 = 7""".stripMargin)
        require(rep.head().getLong(1) > 0, "fixture: insert must append")
        require(c.refreshStale("mvord").nonEmpty,
          "fixture: the mv layouts must delta-refresh")
        c
      }
      cat.sql(
        """SELECT o_orderstatus, n, tot, cd FROM ordmv
          |ORDER BY o_orderstatus""".stripMargin)
    }),

    /** Filtered materialized view (r13 verdict task #8): a WHERE between
      * the body's aggregate and the session used to defeat cube
      * inference (the view registered but served live) — now the
      * filter's columns fold into the built grouping, and the routed
      * read serves the filtered aggregate from stored partials: the
      * fixture REQUIRES the routed plan (cube storage, no fact scan).
      */
    "a_sql_mv_filtered" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"sqlMvFiltCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.open("mvford", s"$dir/orders.parquet",
          orderCols = Seq("o_orderkey"))
        c.sql(
          """CREATE MATERIALIZED VIEW fordmv AS
            |SELECT o_orderpriority, count(*) AS n,
            |  CAST(sum(CAST(round(o_totalprice, 6) AS DECIMAL(38,6)))
            |    AS DOUBLE) AS tot
            |FROM mvford WHERE o_orderstatus = 'F'
            |GROUP BY o_orderpriority""".stripMargin)
        val p = c.sql("SELECT * FROM fordmv")
          .queryExecution.executedPlan.toString
        require(p.contains("catalog_cube_") && !p.contains("o_orderkey"),
          s"the filtered mv must serve from the extended cube; plan: $p")
        c
      }
      cat.sql(
        """SELECT o_orderpriority, n, tot FROM fordmv
          |ORDER BY o_orderpriority""".stripMargin)
    }),

    /** SQL-only mv maintenance (r14): after DML stales the mv's layouts,
      * `REFRESH MATERIALIZED VIEW` delta-patches them from SQL text —
      * the typed refreshStale's last SQL-less gesture — and the read
      * serves the post-DML answer ROUTED again (fixture-required plan).
      */
    "a_sql_mv_refresh" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"sqlMvRefreshCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.open("mvrf", s"$dir/orders.parquet",
          orderCols = Seq("o_orderkey"))
        c.sql(
          """CREATE MATERIALIZED VIEW rfmv AS
            |SELECT o_orderstatus, count(*) AS n,
            |  CAST(sum(CAST(round(o_totalprice, 6) AS DECIMAL(38,6)))
            |    AS DOUBLE) AS tot
            |FROM mvrf GROUP BY o_orderstatus""".stripMargin)
        val rep = c.sql(
          """INSERT INTO mvrf
            |SELECT o_orderkey + 20000000, o_custkey, o_orderstatus,
            |  o_totalprice + 5.0, o_orderdate, o_orderpriority
            |FROM mvrf WHERE o_orderkey % 100 = 11""".stripMargin)
        require(rep.head().getLong(1) > 0, "fixture: insert must append")
        val rf = c.sql("REFRESH MATERIALIZED VIEW rfmv")
        require(rf.head().getLong(1) > 0, "fixture: refresh must patch")
        val p = c.sql("SELECT * FROM rfmv")
          .queryExecution.executedPlan.toString
        require(p.contains("catalog_cube_") && !p.contains("o_orderkey"),
          s"the refreshed mv must serve routed; plan: $p")
        c
      }
      cat.sql(
        """SELECT o_orderstatus, n, tot FROM rfmv
          |ORDER BY o_orderstatus""".stripMargin)
    }),

    /** JOIN materialized view (r14): the body aggregates a fact⋈dim
      * join, so the inference builds a cube on the FACT keyed by the
      * fact side of the equi-join, and the read serves via EAGER
      * AGGREGATION — the fact side collapses to distinct-key cells
      * BEFORE the join (Yan & Larson's groupby-pushdown, materialized).
      * Exact under any dim-key multiplicity, no FK assumption. Fact DML
      * delta-patches the cube; the view serves the post-DML answer
      * still routed (fixture-required plan: cube storage, no fact
      * scan).
      */
    "a_sql_mv_join" -> ((s, dir) => {
      val cat = SessionScoped.memo(s, s"sqlMvJoinCatalog:$dir") {
        val c = new graft.core.Catalog(s)
        c.open("mvjli", s"$dir/lineitem.parquet",
          orderCols = Seq("l_orderkey", "l_linenumber"))
        c.open("mvjsup", s"$dir/supplier.parquet",
          orderCols = Seq("s_suppkey"))
        c.sql(
          """CREATE MATERIALIZED VIEW jmv AS
            |SELECT s_name, count(*) AS n,
            |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6)))
            |    AS DOUBLE) AS qty
            |FROM mvjli JOIN mvjsup ON l_suppkey = s_suppkey
            |GROUP BY s_name""".stripMargin)
        val rep = c.sql(
          """INSERT INTO mvjli
            |SELECT l_orderkey + 9000000, l_partkey, l_suppkey,
            |  l_linenumber, l_quantity + 1, l_extendedprice, l_discount,
            |  l_tax, l_returnflag, l_linestatus, l_shipdate
            |FROM mvjli WHERE l_orderkey % 200 = 9""".stripMargin)
        require(rep.head().getLong(1) > 0, "fixture: insert must append")
        require(c.sql("REFRESH MATERIALIZED VIEW jmv")
          .head().getLong(1) > 0, "fixture: refresh must patch")
        val p = c.sql("SELECT * FROM jmv")
          .queryExecution.executedPlan.toString
        require(p.contains("catalog_cube_") && !p.contains("l_orderkey"),
          s"the join mv must serve via eager aggregation; plan: $p")
        c
      }
      cat.sql("SELECT s_name, n, qty FROM jmv ORDER BY s_name")
    })
  )

  private def uniformSql(idExpr: String) = OracleIdioms.uniformSql(idExpr)
  private val toksSql = OracleIdioms.toksSql

  /** Shared CTE prefix of the two DSIR oracles: hashed-unigram bucket
    * models and the per-doc decimal log-ratio sum — mirror of
    * [[graft.operators.ImportanceWeights.score]] with lang='en' as the
    * target slice, B=1024, alpha=0.5 (so alpha*B = 512.0).
    */
  private val dsirScoreSql: String =
    s"""WITH tk AS (SELECT doc_id, lang, unnest($toksSql) AS term
       |  FROM documents),
       |tok AS (SELECT doc_id, (lang = 'en') AS t,
       |  ${OracleIdioms.md5Long("term")} % 1024 AS b FROM tk),
       |m AS (SELECT b, count(*) AS cr,
       |        sum(CASE WHEN t THEN 1 ELSE 0 END) AS ct
       |      FROM tok GROUP BY b),
       |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
       |          CAST(sum(ct) AS BIGINT) AS nt FROM m),
       |r AS (SELECT b, CAST(round(ln((ct + 0.5) / (nt + 512.0)) -
       |          ln((cr + 0.5) / (nr + 512.0)), 6) AS DECIMAL(12,6)) AS lr
       |      FROM m, tot),
       |s AS (SELECT tok.doc_id, count(*) AS n_toks,
       |        CAST(sum(lr) AS DOUBLE) AS score
       |      FROM tok JOIN r USING (b) GROUP BY tok.doc_id)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "o_upsert" ->
      s"""WITH $upsertCte
         |SELECT * FROM merged ORDER BY c_custkey""".stripMargin,

    "o_partition_overwrite" ->
      """SELECT doc_id, text, lang, source,
        |  CASE WHEN lang = 'en' THEN n_chars * 2 ELSE n_chars END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "j_pit" ->
      """WITH dim AS (
        |  SELECT c_custkey AS k, c_acctbal AS bal,
        |         TIMESTAMP '1990-01-01 00:00:00' AS vts FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal + 100.0,
        |         TIMESTAMP '1998-06-01 00:00:00'
        |  FROM customer WHERE c_custkey % 7 = 0)
        |SELECT o_orderkey, o_custkey, bal AS bal_at_order FROM (
        |  SELECT o.o_orderkey, o.o_custkey, d.bal,
        |    row_number() OVER (PARTITION BY o.o_orderkey
        |      ORDER BY d.vts DESC) AS rn
        |  FROM orders o
        |  JOIN dim d ON o.o_custkey = d.k AND d.vts <= o.o_orderdate)
        |WHERE rn = 1 ORDER BY o_orderkey""".stripMargin,

    "o_changeset" ->
      """WITH ch AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |         'D' AS op
        |  FROM customer WHERE c_custkey % 13 = 0 AND c_custkey % 7 != 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0,
        |         c_mktsegment, 'U'
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal,
        |         c_mktsegment, 'I'
        |  FROM customer WHERE c_custkey % 50 = 0)
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM (
        |  SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal,
        |         c.c_mktsegment
        |  FROM customer c
        |  WHERE c.c_custkey NOT IN (SELECT c_custkey FROM ch)
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |  FROM ch WHERE op IN ('I', 'U'))
        |ORDER BY c_custkey""".stripMargin,

    "o_snapshot_diff" ->
      s"""WITH $upsertCte,
         |newt AS (SELECT * FROM merged WHERE c_custkey % 13 != 3)
         |SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
         |  CASE WHEN o.c_custkey IS NULL THEN 'added'
         |       WHEN n.c_custkey IS NULL THEN 'removed'
         |       WHEN (o.c_acctbal IS DISTINCT FROM n.c_acctbal)
         |         OR (o.c_mktsegment IS DISTINCT FROM n.c_mktsegment)
         |         OR (o.c_name IS DISTINCT FROM n.c_name)
         |         OR (o.c_nationkey IS DISTINCT FROM n.c_nationkey)
         |       THEN 'changed' ELSE 'same' END AS change
         |FROM customer o FULL OUTER JOIN newt n ON o.c_custkey = n.c_custkey
         |ORDER BY c_custkey""".stripMargin,

    // expression-for-expression mirror of Retrieval.bm25 (k1=1.2, b=0.75):
    // identical IEEE evaluation order, decimal(28,10) contribution sum so
    // the fold is order-independent, round(6) on the way out
    "t_bm25" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents),
         |dl AS (SELECT doc_id, len(tk) AS dl FROM toks),
         |stats AS (SELECT count(*) AS n_docs,
         |                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |tf AS (
         |  SELECT doc_id, dl, term, count(*) AS tf FROM (
         |    SELECT t.doc_id, d.dl, unnest(t.tk) AS term
         |    FROM toks t JOIN dl d USING (doc_id))
         |  WHERE term IN ('merge', 'vector', 'spark')
         |  GROUP BY doc_id, dl, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
         |SELECT doc_id, round(CAST(sum(CAST(
         |    ln(1.0 + ((n_docs - df) + 0.5) / (df + 0.5)) *
         |    ((tf * (1.2 + 1.0)) /
         |     (tf + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl)))
         |  AS DECIMAL(28,10))) AS DOUBLE), 6) AS score
         |FROM tf JOIN dfreq USING (term) CROSS JOIN stats
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the stream-maintained index must reproduce the one-shot BM25
    // digits — t_bm25's oracle, verbatim
    "st_bm25" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents),
         |dl AS (SELECT doc_id, len(tk) AS dl FROM toks),
         |stats AS (SELECT count(*) AS n_docs,
         |                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |tf AS (
         |  SELECT doc_id, dl, term, count(*) AS tf FROM (
         |    SELECT t.doc_id, d.dl, unnest(t.tk) AS term
         |    FROM toks t JOIN dl d USING (doc_id))
         |  WHERE term IN ('merge', 'vector', 'spark')
         |  GROUP BY doc_id, dl, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
         |SELECT doc_id, round(CAST(sum(CAST(
         |    ln(1.0 + ((n_docs - df) + 0.5) / (df + 0.5)) *
         |    ((tf * (1.2 + 1.0)) /
         |     (tf + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl)))
         |  AS DECIMAL(28,10))) AS DOUBLE), 6) AS score
         |FROM tf JOIN dfreq USING (term) CROSS JOIN stats
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t_sample_strat" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${uniformSql("doc_id")} <
         |  CASE lang WHEN 'en' THEN 0.3 WHEN 'zh' THEN 1.0
         |            WHEN 'fr' THEN 0.5 ELSE 0.1 END
         |ORDER BY doc_id""".stripMargin,

    "t_sample_weighted" ->
      s"""SELECT doc_id, n_chars FROM documents
         |WHERE ${uniformSql("doc_id")} < least(n_chars / 600.0 * 0.8, 1.0)
         |ORDER BY doc_id""".stripMargin,

    "t_shard_plan" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT)
         |             AS n_tokens FROM documents)
         |${OracleIdioms.shardSql("t", 5000L)}
         |ORDER BY doc_id""".stripMargin,

    // same arithmetic shapes as Sampling.rebalanceToMix: min(n/share),
    // then (share * feasible) / n — IEEE-identical rates both engines
    "t_mix_rebalance" ->
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |t(lang, share) AS (VALUES ('en', 0.40), ('zh', 0.25),
         |                          ('es', 0.20), ('fr', 0.15)),
         |f AS (SELECT min(n / share) AS feasible FROM c JOIN t USING (lang)),
         |r AS (SELECT t.lang, least(1.0, t.share * f.feasible / c.n) AS rate
         |      FROM t JOIN c USING (lang) CROSS JOIN f)
         |SELECT d.doc_id, d.lang
         |FROM documents d JOIN r USING (lang)
         |WHERE ${OracleIdioms.uniformSql("d.doc_id")} < r.rate
         |ORDER BY d.doc_id""".stripMargin,

    // hashed-unigram models mirrored bucket-for-bucket: md5-top-60-bit
    // bucket, alpha=0.5 / B=1024 smoothing (alpha*B = 512.0), per-bucket
    // log-ratio rounded to 6dp and summed as DECIMAL so addition order
    // can't move the score
    "t_dsir_score" -> (dsirScoreSql +
      s"""
         |SELECT d.doc_id, CAST(coalesce(s.n_toks, 0) AS BIGINT) AS n_toks,
         |  coalesce(s.score, 0.0) AS dsir_score
         |FROM documents d LEFT JOIN s USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // same score pipeline + the Gumbel key; the ORDER BY ... LIMIT mirrors
    // Spark's TakeOrderedAndProject predicate exactly (key desc, id asc)
    "t_dsir_resample" -> (dsirScoreSql +
      s""",
         |g AS (SELECT d.doc_id, coalesce(s.score, 0.0) AS dsir_score,
         |        round(coalesce(s.score, 0.0) -
         |          ln(-ln(${uniformSql("d.doc_id")})), 6) AS gumbel_key
         |      FROM documents d LEFT JOIN s USING (doc_id))
         |SELECT doc_id, dsir_score, gumbel_key FROM g
         |ORDER BY gumbel_key DESC, doc_id LIMIT 100""".stripMargin),

    // the GD trajectory replayed round-for-round (unrolled CTEs, the
    // g_pagerank pattern); final scoring mirrors zOf/sigmoid exactly
    "t_quality_lr_score" -> (qualityLrCtes(5) +
      s""",
         |s AS (SELECT f.doc_id, CAST(f.y AS BIGINT) AS label,
         |        round(1.0/(1.0+exp(-(w.w0 + w.w1*f.x1 + w.w2*f.x2
         |          + w.w3*f.x3))), 6) AS lr_score
         |      FROM f CROSS JOIN w5 w)
         |SELECT d.doc_id, CAST(coalesce(s.label, 0) AS BIGINT) AS label,
         |  coalesce(s.lr_score, 0.0) AS lr_score
         |FROM documents d LEFT JOIN s USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    "t_quality_lr_weights" -> (qualityLrCtes(5) +
      "\nSELECT w0, w1, w2, w3 FROM w5"),

    // scored relation (same CTEs) bucketed into ten prediction bins;
    // decimal prediction sums keep bin means order-exact
    "t_quality_lr_calibration" -> (qualityLrCtes(5) +
      s""",
         |s AS (SELECT f.doc_id, CAST(f.y AS BIGINT) AS label,
         |        round(1.0/(1.0+exp(-(w.w0 + w.w1*f.x1 + w.w2*f.x2
         |          + w.w3*f.x3))), 6) AS lr_score
         |      FROM f CROSS JOIN w5 w),
         |all_s AS (SELECT CAST(coalesce(s.label, 0) AS BIGINT) AS label,
         |    coalesce(s.lr_score, 0.0) AS lr_score
         |  FROM documents d LEFT JOIN s USING (doc_id)),
         |b AS (SELECT LEAST(9, CAST(floor(lr_score * 10) AS INT)) AS bin,
         |    lr_score, label FROM all_s)
         |SELECT bin, count(*) AS n_docs,
         |  round(CAST(sum(CAST(lr_score AS DECIMAL(18,6))) AS DOUBLE)
         |    / count(*), 6) AS avg_pred,
         |  round(CAST(sum(label) AS DOUBLE) / count(*), 6) AS label_rate
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin),

    // scored relation (same CTEs) → per-score (pos, neg) histogram →
    // exclusive negatives-below walk; BIGINT 2·P·N·AUC until the division
    "t_quality_lr_auc" -> (qualityLrCtes(5) +
      s""",
         |s AS (SELECT f.doc_id, CAST(f.y AS BIGINT) AS label,
         |        round(1.0/(1.0+exp(-(w.w0 + w.w1*f.x1 + w.w2*f.x2
         |          + w.w3*f.x3))), 6) AS lr_score
         |      FROM f CROSS JOIN w5 w),
         |all_s AS (SELECT CAST(coalesce(s.label, 0) AS BIGINT) AS label,
         |    coalesce(s.lr_score, 0.0) AS lr_score
         |  FROM documents d LEFT JOIN s USING (doc_id)),
         |h AS (SELECT lr_score, CAST(sum(label) AS BIGINT) AS np,
         |        CAST(sum(1 - label) AS BIGINT) AS nn
         |      FROM all_s GROUP BY lr_score),
         |r AS (SELECT
         |    np * (2 * coalesce(CAST(sum(nn) OVER (ORDER BY lr_score
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS BIGINT), 0) + nn) AS numer2,
         |    CAST(sum(np) OVER () AS BIGINT) AS p,
         |    CAST(sum(nn) OVER () AS BIGINT) AS n
         |  FROM h)
         |SELECT p AS n_pos, n AS n_neg,
         |  round(CAST(sum(numer2) AS DOUBLE) /
         |    (2.0 * CAST(p AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS auc
         |FROM r GROUP BY p, n""".stripMargin),

    // one token pass feeds volume + gate + fingerprint columns; shared
    // gate idioms, canonical-md5 duplicate rate
    "t_source_scorecard" -> (
      s"""WITH t AS (SELECT doc_id, source, text, ${OracleIdioms.toksSql}
         |    AS tk FROM documents),
         |q AS (${OracleIdioms.qualitySignalsSql}),
         |k AS (SELECT doc_id,
         |    CASE WHEN ${OracleIdioms.keptPredicateSql} THEN 1 ELSE 0 END
         |      AS kept FROM q),
         |b AS (SELECT t.doc_id, t.source,
         |    CAST(len(tk) AS BIGINT) AS nt,
         |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
         |      AS fp
         |  FROM t),
         |fpd AS (SELECT source, CAST(sum(c - 1) AS BIGINT) AS dup_docs
         |  FROM (SELECT source, fp, count(*) AS c FROM b
         |        GROUP BY source, fp) GROUP BY source),
         |agg AS (SELECT b.source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(b.nt) AS BIGINT) AS n_tokens,
         |    CAST(sum(k.kept) AS BIGINT) AS kept_docs
         |  FROM b JOIN k USING (doc_id) GROUP BY b.source)
         |SELECT agg.source, n_docs, n_tokens,
         |  round(CAST(kept_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         |    AS kept_rate,
         |  round(CAST(dup_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         |    AS dup_rate
         |FROM agg JOIN fpd ON fpd.source = agg.source
         |ORDER BY agg.source""".stripMargin),

    // same history build (one window sort), lag-tiling + one-current
    // checks rolled up
    "o_scd2_audit" ->
      """WITH h AS (SELECT o_custkey, o_orderdate AS valid_from,
        |    lead(o_orderdate, 1) OVER w AS valid_to,
        |    row_number() OVER w AS version,
        |    CASE WHEN lead(o_orderdate, 1) OVER w IS NULL THEN 1 ELSE 0
        |      END AS is_current
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC)),
        |l AS (SELECT o_custkey, version, valid_from, valid_to, is_current,
        |    lag(valid_to, 1) OVER (PARTITION BY o_custkey
        |      ORDER BY version) AS prev_to
        |  FROM h),
        |pk AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS nv,
        |    CAST(sum(is_current) AS BIGINT) AS nc,
        |    CAST(sum(CASE WHEN prev_to IS NOT NULL
        |      AND prev_to != valid_from THEN 1 ELSE 0 END) AS BIGINT)
        |      AS tile_viol
        |  FROM l GROUP BY o_custkey)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(nv) AS BIGINT) AS n_versions,
        |  CAST(sum(CASE WHEN nc = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS keys_with_one_current,
        |  CAST(sum(tile_viol) AS BIGINT) AS tiling_violations
        |FROM pk""".stripMargin,

    // per-row md5 fingerprints summed order-free; decimal-stringified
    // doubles. The 23-digit digest ships as VARCHAR: DuckDB's pandas
    // bridge renders wide DECIMALs through float64 (23 significant digits
    // cannot survive the 53-bit mantissa), so the exact decimal is
    // stringified inside the engine, never downstream.
    "o_table_digest" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(CAST(sum(CAST(('0x' || substr(md5(
        |    CAST(l_orderkey AS VARCHAR) || '|' ||
        |    CAST(l_linenumber AS VARCHAR) || '|' ||
        |    CAST(l_partkey AS VARCHAR) || '|' ||
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR)
        |      || '|' || l_returnflag), 1, 15))::BIGINT
        |    AS DECIMAL(20,0))) AS DECIMAL(38,0)) AS VARCHAR) AS digest
        |FROM lineitem""".stripMargin,

    // one anti-join per FK edge, dims broadcast; 1-row legs unioned
    "o_fk_audit" ->
      """WITH e1 AS (SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_child_rows,
        |    CAST(count(*) AS BIGINT) AS n_orphan_rows,
        |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orphan_keys
        |  FROM lineitem WHERE l_orderkey NOT IN
        |    (SELECT o_orderkey FROM orders)),
        |e2 AS (SELECT 'lineitem.l_partkey->part',
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |    CAST(count(*) AS BIGINT),
        |    CAST(count(DISTINCT l_partkey) AS BIGINT)
        |  FROM lineitem WHERE l_partkey NOT IN
        |    (SELECT p_partkey FROM part)),
        |e3 AS (SELECT 'orders.o_custkey->customer',
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |    CAST(count(*) AS BIGINT),
        |    CAST(count(DISTINCT o_custkey) AS BIGINT)
        |  FROM orders WHERE o_custkey NOT IN
        |    (SELECT c_custkey FROM customer)),
        |e4 AS (SELECT 'customer.c_nationkey->nation',
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer),
        |    CAST(count(*) AS BIGINT),
        |    CAST(count(DISTINCT c_nationkey) AS BIGINT)
        |  FROM customer WHERE c_nationkey NOT IN
        |    (SELECT n_nationkey FROM nation))
        |SELECT * FROM e1 UNION ALL SELECT * FROM e2
        |UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4
        |ORDER BY fk_edge""".stripMargin,

    // one aggregate over every column's stats, fanned out per column
    "o_analyze" ->
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_ok,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nd_ok,
        |  CAST(min(l_orderkey) AS DOUBLE) AS mn_ok, CAST(max(l_orderkey) AS DOUBLE) AS mx_ok,
        |  CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_pk,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS nd_pk,
        |  CAST(min(l_partkey) AS DOUBLE) AS mn_pk, CAST(max(l_partkey) AS DOUBLE) AS mx_pk,
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_q,
        |  CAST(count(DISTINCT l_quantity) AS BIGINT) AS nd_q,
        |  CAST(min(l_quantity) AS DOUBLE) AS mn_q, CAST(max(l_quantity) AS DOUBLE) AS mx_q,
        |  CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_ep,
        |  CAST(count(DISTINCT l_extendedprice) AS BIGINT) AS nd_ep,
        |  CAST(min(l_extendedprice) AS DOUBLE) AS mn_ep, CAST(max(l_extendedprice) AS DOUBLE) AS mx_ep,
        |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_rf,
        |  CAST(count(DISTINCT l_returnflag) AS BIGINT) AS nd_rf,
        |  min(l_returnflag) AS sn_rf, max(l_returnflag) AS sx_rf,
        |  CAST(sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_ls,
        |  CAST(count(DISTINCT l_linestatus) AS BIGINT) AS nd_ls,
        |  min(l_linestatus) AS sn_ls, max(l_linestatus) AS sx_ls
        |FROM lineitem)
        |SELECT 'l_orderkey' AS "column", n AS n_rows, nn_ok AS n_nulls,
        |  nd_ok AS ndv, mn_ok AS min_num, mx_ok AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM m
        |UNION ALL SELECT 'l_partkey', n, nn_pk, nd_pk, mn_pk, mx_pk,
        |  NULL, NULL FROM m
        |UNION ALL SELECT 'l_quantity', n, nn_q, nd_q, mn_q, mx_q,
        |  NULL, NULL FROM m
        |UNION ALL SELECT 'l_extendedprice', n, nn_ep, nd_ep, mn_ep, mx_ep,
        |  NULL, NULL FROM m
        |UNION ALL SELECT 'l_returnflag', n, nn_rf, nd_rf,
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), sn_rf, sx_rf FROM m
        |UNION ALL SELECT 'l_linestatus', n, nn_ls, nd_ls,
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), sn_ls, sx_ls FROM m
        |ORDER BY "column"""".stripMargin,

    // scored relation (same CTEs) → score histogram → decile via
    // integer DIV of the exclusive cumulative; decimal per-decile means
    "t_quality_lr_lift" -> (qualityLrCtes(5) +
      s""",
         |s AS (SELECT f.doc_id, CAST(f.y AS BIGINT) AS label,
         |        round(1.0/(1.0+exp(-(w.w0 + w.w1*f.x1 + w.w2*f.x2
         |          + w.w3*f.x3))), 6) AS lr_score
         |      FROM f CROSS JOIN w5 w),
         |all_s AS (SELECT CAST(coalesce(s.label, 0) AS BIGINT) AS label,
         |    coalesce(s.lr_score, 0.0) AS lr_score
         |  FROM documents d LEFT JOIN s USING (doc_id)),
         |h AS (SELECT lr_score, CAST(count(*) AS BIGINT) AS m,
         |        CAST(sum(label) AS BIGINT) AS pos
         |      FROM all_s GROUP BY lr_score),
         |r AS (SELECT lr_score, m, pos,
         |    coalesce(CAST(sum(m) OVER (ORDER BY lr_score
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS BIGINT), 0) AS cb,
         |    CAST(sum(m) OVER () AS BIGINT) AS n,
         |    CAST(sum(pos) OVER () AS BIGINT) AS p
         |  FROM h),
         |d AS (SELECT CAST((cb * 10) // n AS INT) AS decile,
         |    lr_score, m, pos, n, p FROM r)
         |SELECT decile, CAST(sum(m) AS BIGINT) AS n_docs,
         |  round(CAST(sum(CAST(lr_score AS DECIMAL(18,6)) * m) AS DOUBLE)
         |    / CAST(sum(m) AS DOUBLE), 6) AS avg_pred,
         |  CAST(sum(pos) AS BIGINT) AS n_pos,
         |  round(CAST(sum(pos) AS DOUBLE) / CAST(sum(m) AS DOUBLE), 6)
         |    AS label_rate,
         |  round(CAST(sum(pos) AS DOUBLE) * CAST(n AS DOUBLE) /
         |    (CAST(sum(m) AS DOUBLE) * CAST(p AS DOUBLE)), 6) AS lift
         |FROM d GROUP BY decile, n, p ORDER BY decile""".stripMargin),

    // per-key counts → 1-row totals; integer ceil-div salt factor
    "o_skew_report" ->
      """WITH k AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
        |           FROM events GROUP BY user_id),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |        CAST(count(*) AS BIGINT) AS n_keys,
        |        max(c) AS max_c FROM k)
        |SELECT n_rows, n_keys,
        |  round(CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE), 4)
        |    AS mean_rows,
        |  max_c AS max_key_rows,
        |  min(CASE WHEN c = max_c THEN user_id END) AS hottest_key,
        |  CAST(sum(CASE WHEN c * n_keys > n_rows * 10 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS hot_keys,
        |  round(CAST(max_c AS DOUBLE) * CAST(n_keys AS DOUBLE) /
        |    CAST(n_rows AS DOUBLE), 4) AS skew_ratio,
        |  (max_c * n_keys + n_rows - 1) // n_rows AS salt_factor
        |FROM k CROSS JOIN t
        |GROUP BY n_rows, n_keys, max_c""".stripMargin,

    // same recurrence as t_pack_greedy with the curriculum (n_chars DESC,
    // doc_id) packing order driving row_number
    "t_pack_curriculum" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, lang, n_chars,
         |    CAST(len($toksSql) AS BIGINT) AS n FROM documents),
         |o AS (SELECT doc_id, lang, n, row_number() OVER (
         |    PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn FROM t),
         |rec AS (
         |  SELECT lang, doc_id, n, rn, CAST(0 AS BIGINT) AS bin, n AS acc
         |  FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.lang, o.doc_id, o.n, o.rn,
         |    CASE WHEN r.acc > 0 AND r.acc + o.n > 2048
         |         THEN r.bin + 1 ELSE r.bin END,
         |    CASE WHEN r.acc > 0 AND r.acc + o.n > 2048
         |         THEN o.n ELSE r.acc + o.n END
         |  FROM rec r JOIN o ON o.lang = r.lang AND o.rn = r.rn + 1)
         |SELECT doc_id, lang, n AS n_tokens, bin
         |FROM rec ORDER BY doc_id""".stripMargin,

    // the greedy bin recurrence replayed one doc per lang per iteration;
    // the CASE mirrors packGreedy's `acc > 0 && acc + n > budget` reset
    "t_pack_greedy" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, lang,
         |    CAST(len($toksSql) AS BIGINT) AS n FROM documents),
         |o AS (SELECT doc_id, lang, n, row_number() OVER (
         |    PARTITION BY lang ORDER BY doc_id) AS rn FROM t),
         |rec AS (
         |  SELECT lang, doc_id, n, rn, CAST(0 AS BIGINT) AS bin, n AS acc
         |  FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.lang, o.doc_id, o.n, o.rn,
         |    CASE WHEN r.acc > 0 AND r.acc + o.n > 2048
         |         THEN r.bin + 1 ELSE r.bin END,
         |    CASE WHEN r.acc > 0 AND r.acc + o.n > 2048
         |         THEN o.n ELSE r.acc + o.n END
         |  FROM rec r JOIN o ON o.lang = r.lang AND o.rn = r.rn + 1)
         |SELECT doc_id, lang, n AS n_tokens, bin
         |FROM rec ORDER BY doc_id""".stripMargin,

    "t_pack_windows" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |p AS (SELECT doc_id, lang, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang
         |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING), 0) AS BIGINT) AS prior
         |  FROM t)
         |SELECT doc_id, lang, n_tokens,
         |  prior // 2048 AS start_chunk,
         |  CASE WHEN n_tokens > 0 THEN (prior + n_tokens - 1) // 2048
         |       ELSE prior // 2048 END AS end_chunk,
         |  prior % 2048 AS offset_in_chunk
         |FROM p ORDER BY doc_id""".stripMargin,

    "s_partition_prune" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'zh' ORDER BY doc_id""".stripMargin,

    "s_schema_evolution" ->
      """SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin,

    "t_mix_report" ->
      s"""WITH a AS (SELECT lang, source, count(*) AS n_docs,
         |    CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1, 2)
         |SELECT lang, source, n_docs, n_tokens,
         |  round(CAST(n_tokens AS DOUBLE) /
         |    CAST(sum(n_tokens) OVER () AS DOUBLE), 6) AS token_share
         |FROM a ORDER BY lang, source""".stripMargin,

    "o_purge" ->
      """WITH po AS MATERIALIZED (SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                      WHERE c_custkey % 17 = 0))
        |SELECT 'customer' AS table_name,
        |  (SELECT count(*) FROM customer) AS rows_before,
        |  (SELECT count(*) FROM customer WHERE c_custkey % 17 = 0) AS rows_deleted,
        |  (SELECT count(*) FROM customer WHERE c_custkey % 17 != 0) AS rows_after
        |UNION ALL
        |SELECT 'lineitem',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem
        |   WHERE l_orderkey IN (SELECT o_orderkey FROM po)),
        |  (SELECT count(*) FROM lineitem
        |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM po))
        |UNION ALL
        |SELECT 'orders',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders
        |   WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                       WHERE c_custkey % 17 = 0)),
        |  (SELECT count(*) FROM orders
        |   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
        |                           WHERE c_custkey % 17 = 0))
        |ORDER BY table_name""".stripMargin,

    "t_mix_temperature" ->
      s"""WITH a AS MATERIALIZED (SELECT lang,
         |    CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |p AS MATERIALIZED (SELECT lang, n_tokens,
         |    CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE) AS pr,
         |    sqrt(CAST(n_tokens AS DOUBLE) /
         |         CAST(sum(n_tokens) OVER () AS DOUBLE)) AS sp
         |  FROM a),
         |d AS (SELECT list_reduce(list_prepend(0.0, list(sp ORDER BY lang)),
         |    (acc, b) -> acc + b) AS denom FROM p)
         |SELECT lang, n_tokens, round(pr, 6) AS token_share,
         |  round(sp / denom, 6) AS temp_share,
         |  round(sp / denom / pr, 6) AS boost
         |FROM p CROSS JOIN d ORDER BY lang""".stripMargin,

    // from-scratch aggregate: the incremental merge must equal this exactly
    // (decimal partials are associative, so it does)
    "o_incr_agg" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // identity through fragment → compact → read-back: any lost/duplicated
    // row fails the hash
    "o_compact" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    // the SQL OPTIMIZE route shares o_compact's identity contract
    "o_sql_compact" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    // garbage collection never touches answers: identity after VACUUM
    "o_sql_vacuum" ->
      """SELECT r_regionkey, r_name FROM region
        |ORDER BY r_regionkey""".stripMargin,

    // rolled-back statements leave no trace; the committed UPDATE shows
    "o_sql_txn" ->
      """SELECT r_regionkey, lower(r_name) AS r_name FROM region
        |ORDER BY r_regionkey""".stripMargin,

    // the full incident playbook reproduces the original table exactly
    "o_sql_incident" ->
      """SELECT r_regionkey, r_name FROM region
        |ORDER BY r_regionkey""".stripMargin,

    // identity through the range-partitioned sorted write: any lost or
    // reordered-between-files row fails the hash
    "o_sorted_export" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    // skipping is a performance contract only: pruned scan + exact
    // predicate must equal the plain full-scan filter
    "o_skipping" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_extendedprice >= 1000.0 AND l_extendedprice <= 5000.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the catalog-routed pruned scan is byte-identical to the full-scan
    // filter by the skipping-index contract, so it shares the oracle
    "o_catalog_rangescan" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_extendedprice >= 1000.0 AND l_extendedprice <= 5000.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the SQL-text route through the same layout shares it too
    "o_sql_rangescan" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_extendedprice >= 1000.0 AND l_extendedprice <= 5000.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the DML-patched scan's oracle replays the two gestures in SQL:
    // the min-key row's price is edited, the second-smallest-key row is
    // deleted (positions under an o_orderkey ordering are key ranks)
    "o_rangescan_dml" ->
      """WITH edited AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey = (SELECT min(o_orderkey) FROM orders)
        |      THEN 123456.78 ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE o_orderkey <> (SELECT o_orderkey FROM orders
        |                       ORDER BY o_orderkey LIMIT 1 OFFSET 1))
        |SELECT o_orderkey, o_totalprice FROM edited
        |WHERE o_totalprice >= 1000.0 AND o_totalprice <= 200000.0
        |ORDER BY o_orderkey""".stripMargin,

    // time-window pruning is a performance contract too: plain filters
    "o_catalog_tsrange" ->
      """SELECT event_type, count(*) AS n
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "o_sql_tsrange" ->
      """SELECT event_type, count(*) AS n
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // typed 2-D pruning (ts × user) is a performance contract too
    "o_catalog_ts_zorder" ->
      """SELECT event_type, count(*) AS n
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-20 00:00:00'
        |  AND user_id BETWEEN 2 AND 9
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "o_sql_ts_zorder" ->
      """SELECT event_type, count(*) AS n
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-20 00:00:00'
        |  AND user_id BETWEEN 2 AND 9
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // 3-D pruning is a performance contract too: plain conjunctive
    // filter over all three typed dimensions
    "o_catalog_zorder3" ->
      """SELECT event_type, count(*) AS n
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-20 00:00:00'
        |  AND user_id BETWEEN 2 AND 9
        |  AND event_type >= 'click' AND event_type <= 'purchase'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "o_sql_zorder3" ->
      """SELECT event_type, count(*) AS n
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-20 00:00:00'
        |  AND user_id BETWEEN 2 AND 9
        |  AND event_type >= 'click' AND event_type <= 'purchase'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // 2-D pruning is a performance contract: plain conjunctive filter
    "o_catalog_zorder" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_extendedprice >= 1000.0 AND l_extendedprice <= 5000.0
        |  AND l_quantity >= 10.0 AND l_quantity <= 20.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the SQL-text route through the same layout shares it too
    "o_sql_zorder" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_extendedprice >= 1000.0 AND l_extendedprice <= 5000.0
        |  AND l_quantity >= 10.0 AND l_quantity <= 20.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // SQL DML legs: each oracle replays the statement relationally over
    // the untouched base table — UNION ALL for INSERT, CASE WHEN for
    // UPDATE, NOT IN for DELETE, and the anti-join+union MERGE shape
    "o_sql_append" ->
      """WITH aug AS (
        |  SELECT * FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
        |         o_totalprice + 1.0, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 100 = 1)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
        |FROM aug GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "o_sql_update" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 500 = 3
        |       THEN concat(o_orderstatus, '!') ELSE o_orderstatus
        |  END AS o_orderstatus,
        |  CASE WHEN o_orderkey % 500 = 3
        |       THEN o_totalprice * 2 ELSE o_totalprice
        |  END AS o_totalprice
        |FROM orders WHERE o_orderkey % 500 = 3 OR o_orderkey % 500 = 4
        |ORDER BY o_orderkey""".stripMargin,

    "o_sql_delete" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
        |FROM orders
        |WHERE o_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_custkey % 97 = 0)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "o_sql_upsert" ->
      """WITH u AS (
        |  SELECT c_custkey, c_acctbal + 100.0 AS nb
        |  FROM customer WHERE c_custkey % 7 = 0),
        |i AS (
        |  SELECT c_custkey + 1000000 AS c_custkey, c_name, c_nationkey,
        |         c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 50 = 0)
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM (
        |  SELECT c.c_custkey, c.c_name, c.c_nationkey,
        |    CASE WHEN u.c_custkey IS NOT NULL THEN u.nb
        |         ELSE c.c_acctbal END AS c_acctbal,
        |    c.c_mktsegment
        |  FROM customer c LEFT JOIN u ON c.c_custkey = u.c_custkey
        |  WHERE NOT (c.c_custkey % 13 = 0 AND c.c_custkey % 7 != 0)
        |  UNION ALL
        |  SELECT * FROM i)
        |ORDER BY c_custkey""".stripMargin,

    "o_sql_ctas" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
        |FROM orders GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "o_sql_ctas_partitioned" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'zh' ORDER BY doc_id""".stripMargin,

    "o_sql_add_column" ->
      """SELECT o_orderkey, o_orderstatus, CAST('new' AS VARCHAR) AS flag,
        |  CAST(0 AS INTEGER) AS bonus
        |FROM orders WHERE o_orderkey % 50 = 0 ORDER BY o_orderkey"""
        .stripMargin,

    "o_sql_drop_column" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice AS price
        |FROM orders WHERE o_orderkey % 50 = 0 ORDER BY o_orderkey"""
        .stripMargin,

    "o_sql_recover" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // each change class reconstructed from the base table by the DML
    // predicates; the engine's update pre-images carry the ORIGINAL
    // status, post-images the updated one
    "o_sql_changes" ->
      """SELECT o_orderkey, o_orderstatus, change_type FROM (
        |  SELECT o_orderkey + 5000000 AS o_orderkey,
        |    CASE WHEN o_orderkey % 997 = 3 THEN 'U' ELSE o_orderstatus END
        |      AS o_orderstatus,
        |    'insert' AS change_type
        |  FROM orders WHERE o_orderkey % 997 = 7
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, 'delete'
        |  FROM orders WHERE o_orderkey % 997 = 5
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, 'update_preimage'
        |  FROM orders WHERE o_orderkey % 997 = 3
        |  UNION ALL
        |  SELECT o_orderkey, 'U', 'update_postimage'
        |  FROM orders WHERE o_orderkey % 997 = 3) ch
        |ORDER BY change_type, o_orderkey""".stripMargin,

    "o_sql_copy" ->
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 4) AS price
        |FROM (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |      UNION ALL
        |      SELECT o_orderkey + 7000000, o_orderstatus, o_totalprice
        |      FROM orders WHERE o_orderkey % 101 = 9) t
        |ORDER BY o_orderkey""".stripMargin,

    // the synced replica's expected final state, reconstructed from the
    // base table by the DML predicates
    "o_sql_cdc_sync" ->
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 4) AS price
        |FROM (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 997 = 3 THEN 'U'
        |         ELSE o_orderstatus END AS o_orderstatus,
        |    o_totalprice
        |  FROM orders WHERE o_orderkey % 997 <> 5
        |  UNION ALL
        |  SELECT o_orderkey + 5000000, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 997 = 7) t
        |ORDER BY o_orderkey""".stripMargin,

    "o_sql_lifecycle" ->
      """SELECT k, v, x FROM (VALUES (2, 'b', 3.5),
        |  (3, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)))
        |  AS t(k, v, x)
        |ORDER BY k""".stripMargin,

    "a_sql_mv" ->
      """WITH t AS (
        |  SELECT o_custkey, o_orderstatus, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_custkey, o_orderstatus, o_totalprice + 2.0
        |  FROM orders WHERE o_orderkey % 100 = 7)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS tot,
        |  count(DISTINCT o_custkey) AS cd
        |FROM t GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "a_sql_mv_filtered" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS tot
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "a_sql_mv_refresh" ->
      """WITH t AS (
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice + 5.0
        |  FROM orders WHERE o_orderkey % 100 = 11)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS tot
        |FROM t GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "a_sql_mv_join" ->
      """WITH t AS (
        |  SELECT l_suppkey, l_quantity FROM lineitem
        |  UNION ALL
        |  SELECT l_suppkey, l_quantity + 1
        |  FROM lineitem WHERE l_orderkey % 200 = 9)
        |SELECT s_name, count(*) AS n,
        |  CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS qty
        |FROM t JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin
  )
}
