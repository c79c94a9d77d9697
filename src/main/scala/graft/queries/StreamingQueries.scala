package graft.queries

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Queries that execute REAL Structured Streaming (readStream → window
  * agg → memory sink, Trigger.AvailableNow) and return the materialized
  * result. The events parquet drives the stream; the oracle describes
  * the same result relationally:
  *
  *   - complete mode: every window is in the output regardless of
  *     watermark → oracle = plain windowed GROUP BY.
  *   - append mode, zero-lateness watermark: a window is emitted iff the
  *     final watermark (= max event time seen) passed its end → oracle =
  *     windowed GROUP BY ... HAVING w_end <= max(ts). (ADR-0006 closure
  *     rule, driver-checkable because the stream is finite.)
  */
object StreamingQueries extends QueryGroup {
  import Sql._

  private val counter = new java.util.concurrent.atomic.AtomicLong()

  /** The events table as either a file STREAM (the run paths) or the
    * SAME files as a batch leaf (the plan audit): identical explicit
    * schema, glob, and ts normalization, so both modes plan the
    * identical lineage above the leaf. The streaming source needs an
    * explicit schema, so peek at the batch-read schema of the same
    * file — exactly what the vectorized reader will produce (long for
    * legacy TIMESTAMP(NANOS) under nanosAsLong, TIMESTAMP_NTZ for
    * timestamp[us]) — then normalize post-read. The batch leaf exists
    * because Spark's batch planner cannot force `executedPlan` through
    * a watermarked `StreamingRelation` (`EventTimeWatermarkStrategy`
    * MatchErrors — r10 verdict #1); over a batch leaf the physical
    * plan is real and every join-strategy/limit check means what it
    * says.
    */
  private def eventsSource(
      s: org.apache.spark.sql.SparkSession, dir: String, stream: Boolean) = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val physicalSchema = s.read.parquet(s"$dir/events.parquet").schema
    // the streaming file source requires a directory: stream the sf dir
    // with a glob selecting just the events table
    val raw =
      if (stream)
        s.readStream.schema(physicalSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
      else
        s.read.schema(physicalSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
    graft.Tables.normalizeTs(raw)
  }

  /** Documents as a stream (run; the shared source of every
    * batch-model → streaming-apply gate, s16/s19/s21/s23/s26/s27/s28)
    * or the same files as a batch leaf (plan audit) — see
    * [[eventsSource]] for why both modes exist. */
  private def docsSource(
      s: SparkSession, dir: String, stream: Boolean): DataFrame = {
    val reader = "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    if (stream)
      s.readStream.schema(reader)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
    else
      s.read.schema(reader)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
  }

  /** Runs the streaming frame to a memory sink (AvailableNow) and
    * returns the sink table. CONTRACT for update-mode callers: the
    * memory sink appends each batch's updated rows, so with >1
    * micro-batch the table holds every intermediate state row, not
    * just the final one. Each single-file source here yields one batch
    * under AvailableNow (no maxFilesPerTrigger is set), so raw
    * consumers (s28–s32) read final state today; any consumer that
    * AGGREGATES ACROSS sink rows must first collapse to final state
    * per key (monotone counts → max per group — see s33) so the
    * result cannot depend on trigger slicing.
    */
  private def runToTable(
      df: org.apache.spark.sql.DataFrame,
      mode: String,
      checkpointLocation: Option[String] = None): org.apache.spark.sql.DataFrame = {
    val name = s"graft_stream_${counter.incrementAndGet()}"
    val spark = df.sparkSession
    // Streaming state partitions are fixed at the FIRST run from
    // spark.sql.shuffle.partitions and must be sized to the state, not
    // to the batch-analytics core count: every micro-batch checkpoints
    // each state-store partition, so a small-state stream on a 32-core
    // session pays 4× the per-batch store overhead for nothing. 8 keys
    // the overhead to the actual state size here; a real deployment
    // sizes it to projected state bytes per partition.
    val shuffleKey = "spark.sql.shuffle.partitions"
    GraftSession.withConf(spark, shuffleKey,
        math.min(8, spark.conf.get(shuffleKey).toInt).toString) {
      val writer = df.writeStream.outputMode(mode)
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow())
      val q = checkpointLocation
        .fold(writer)(c => writer.option("checkpointLocation", c))
        .start()
      q.awaitTermination()
    }
    spark.table(name)
  }

  /** Stage the deterministic arrival slices of a staged-source query
    * in ONE source pass (r18, guide §2.4: the per-slice filter loop
    * re-scanned the source once per slice, plus once more for any
    * bound aggregate): rows are routed by `sliceCol` into `k=<n>/`
    * partition dirs; the repartition puts each slice in one task so
    * each slice stays a single file, and the slice column never enters
    * the data files, so the staged schema is unchanged. Slice
    * MEMBERSHIP is unchanged too — `sliceCol` is each site's old
    * filter predicate solved for k — and within-slice row order is
    * free at every site (set-oriented batches or handlers that sort
    * in-batch; see each site's contract note).
    */
  private def stageSlices(df: DataFrame,
      sliceCol: org.apache.spark.sql.Column, stage: java.io.File): Unit = {
    df.withColumn("k", sliceCol.cast("int"))
      .repartition(col("k"))
      .write.mode("overwrite").partitionBy("k")
      .parquet(stage.getAbsolutePath)
    ()
  }

  /** Copy slice k's staged files into the live source dir. An empty
    * slice stages NO directory, so it feeds no file and fires no
    * micro-batch. Output rows match the old per-slice writer's (its
    * empty file fired a zero-row batch that emitted nothing), but
    * batch-side effects do not: a handler that counts its own batches
    * sees one batch fewer per empty slice — s22's snapshot `version`
    * counter is one.
    */
  private def feedSlice(stage: java.io.File, in: java.io.File, k: Int): Unit =
    Option(new java.io.File(stage, s"k=$k").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(in, s"b$k-${f.getName}").toPath)
        ()
      }

  /** Pre-sink streaming frames (and, for the foreachBatch queries,
    * batch-shaped interior frames built through the SAME shared
    * operator functions on stand-in inputs), extracted so that each
    * query's `run` and [[auditFrames]] — the PlanQualitySpec streaming
    * sweep — plan the identical lineage. The RETURNED frame is never
    * executed by the audit (the spec only reads its plans), and in
    * audit mode (`stream = false`) construction is plan-only too: the
    * sources become batch leaves over the same files and the
    * batch-model gates (s19/s21/s23/s27/s28) take stand-in model
    * state through the SAME scoring functions the run calls, so no
    * training job runs to build a plan. In run mode (`stream = true`)
    * construction of the gate frames executes the real offline
    * training, by design.
    */
  private[graft] object Frames {
    def s01(s: SparkSession, dir: String, stream: Boolean = true): DataFrame =
      eventsSource(s, dir, stream)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("w_start"),
          col("event_type"), col("n"), col("sum_value"))

    def s02(s: SparkSession, dir: String, stream: Boolean = true): DataFrame =
      eventsSource(s, dir, stream)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("w_start"),
          col("n"), col("sum_value"))

    def s03(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      // batch planning has no strategy for DeduplicateWithinWatermark
      // (assertion "No plan for DeduplicateWithinWatermark"), and
      // Spark's own documented batch semantics for the operator IS
      // plain dropDuplicates — the audit frame takes that equivalence
      val src = eventsSource(s, dir, stream).withWatermark("ts", "1 hour")
      val deduped =
        if (stream) src.dropDuplicatesWithinWatermark("user_id", "event_type")
        else src.dropDuplicates("user_id", "event_type")
      deduped.select("user_id", "event_type")
    }

    def s04(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      val dim = Tables(s, dir).customer
        .select(col("c_custkey"), col("c_mktsegment"))
      eventsSource(s, dir, stream)
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    }

    /** The s05 aggregation over its MemoryStream source; the audit
      * builds it over an EMPTY queue (same plan, no driver collect).
      */
    def s05Agg(queue: DataFrame): DataFrame =
      queue.toDF("event_type", "value")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))

    private def typedEvents(s: SparkSession, dir: String, stream: Boolean,
        t: String, prefix: String): DataFrame =
      eventsSource(s, dir, stream)
        .filter(col("event_type") === t)
        .select(col("user_id").as(s"${prefix}_user"),
          col("ts").as(s"${prefix}_ts"),
          col("event_id").as(s"${prefix}_id"))

    def s06(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      val views = typedEvents(s, dir, stream, "view", "v")
        .withWatermark("v_ts", "1 hour")
      val purchases = typedEvents(s, dir, stream, "purchase", "p")
        .withWatermark("p_ts", "1 hour")
      views.join(purchases,
        col("v_user") === col("p_user") &&
          col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
        .select(col("v_id").as("view_id"), col("p_id").as("purchase_id"),
          col("v_user").as("user_id"))
    }

    def s07(s: SparkSession, dir: String, stream: Boolean = true): DataFrame =
      eventsSource(s, dir, stream)
        .withWatermark("ts", "0 seconds")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("user_id"),
          unix_timestamp(col("w.start")).as("session_start"),
          col("n"), col("sum_value"))

    def s08(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      val views = typedEvents(s, dir, stream, "view", "v")
        .withWatermark("v_ts", "0 seconds")
      val purchases = typedEvents(s, dir, stream, "purchase", "p")
        .withWatermark("p_ts", "0 seconds")
      views.join(purchases,
        col("v_user") === col("p_user") &&
          col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
        .select(col("v_id").as("view_id"), col("p_id").as("purchase_id"),
          col("v_user").as("user_id"))
    }

    def s09(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      import s.implicits._
      val ev = eventsSource(s, dir, stream)
        .select(col("user_id"), col("value")).as[(Long, Double)]
      graft.streaming.StatefulOps.runningMax(ev)
        .toDF("user_id", "max_value")
    }

    def s10(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      val tenMin = eventsSource(s, dir, stream)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "10 minutes").as("w10"), col("event_type"))
        .agg(count(lit(1)).as("n10"), dsum(col("value")).as("s10"))
      tenMin
        .groupBy(window(window_time(col("w10")), "1 hour").as("w60"),
          col("event_type"))
        .agg(sum(col("n10")).as("n"), count(lit(1)).as("n_subwindows"),
          sum(col("s10").cast(org.apache.spark.sql.types.DecimalType(28, 6)))
            .cast("double").as("sum_value"))
        .select(unix_timestamp(col("w60.start")).as("w_start"),
          col("event_type"), col("n"), col("n_subwindows"), col("sum_value"))
    }

    def s11(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      val views = eventsSource(s, dir, stream)
        .filter(col("event_type") === "view")
        .select(col("ts"), col("value"))
      val purchases = eventsSource(s, dir, stream)
        .filter(col("event_type") === "purchase")
        .select(col("ts"), col("value"))
      views.union(purchases)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("w_start"),
          col("n"), col("sum_value"))
    }

    def s12(s: SparkSession, dir: String, stream: Boolean = true): DataFrame =
      eventsSource(s, dir, stream)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("w_start"),
          col("n"), col("sum_value"))

    def s13(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      import s.implicits._
      val ev = eventsSource(s, dir, stream)
        .select(col("user_id"), col("value")).as[(Long, Double)]
      graft.streaming.StatefulOps.runningStats(ev)
        .toDF("user_id", "n", "max_value")
    }

    def s14(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      import s.implicits._
      val ev = eventsSource(s, dir, stream)
        .withWatermark("ts", "0 seconds")
        .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
          col("value")).as[(Long, Long, Double)]
      graft.streaming.StatefulOps
        .timerSessions(ev, 30L * 60 * 1000000)
        .toDF("user_id", "session_start", "n", "sum_value")
    }

    def s16(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      val docs = docsSource(s, dir, stream)
      val ok = graft.functions.TextFunctions.qualityOk(
        graft.functions.TextFunctions.normalized(col("text")), minTokens = 25)
      docs
        .withColumn("fp", graft.functions.TextFunctions.fingerprint(col("text")))
        .dropDuplicates("source", "fp")
        .groupBy("source")
        .agg(count(lit(1)).as("n_distinct"),
          count(when(ok, lit(1))).as("n_pass"))
    }

    /** The s17 per-phase aggregation shape (the staged-input schema is
      * the same two columns the run stages). Audit-only: the run path
      * builds its own staged `readStream` over the phase directory, so
      * this frame only ever plans over a batch leaf.
      */
    def s17Phase(s: SparkSession, dir: String): DataFrame =
      s.read.schema("event_type STRING, value DOUBLE")
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))

    def s18(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      def typed(t: String, prefix: String) =
        typedEvents(s, dir, stream, t, prefix)
          .withWatermark(s"${prefix}_ts", "1 hour")
      val vc = typed("view", "v").join(typed("click", "c"),
        col("v_user") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 12 HOURS"))
      vc.join(typed("purchase", "p"),
        col("v_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 12 HOURS"))
        .select(col("v_id").as("view_id"), col("c_id").as("click_id"),
          col("p_id").as("purchase_id"), col("v_user").as("user_id"))
    }

    def s19(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      val Samp = graft.operators.Sampling
      // audit mode: a one-entry stand-in model map and a literal
      // threshold through the SAME native-score/filter lineage — the
      // plan shape (scan → per-row DsirGramScore projection → filter,
      // fully stateless) is identical and nothing trains just to read
      // a plan
      val (imp, thr) =
        if (stream)
          Samp.dsirTrainGate(Tables(s, dir).documents,
            col("lang") === "en", 0.25)
        else (Map("the" -> 1000L), 0L)
      Samp.dsirScoreModel(docsSource(s, dir, stream), imp)
        .filter(col("score_ppm") >= thr)
    }

    def s21(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      val QM = graft.operators.QualityModel
      // audit mode: zero weights — scoreWith embeds w as literals, so
      // the plan shape is value-independent and no training runs
      val (w, bias, thr) =
        if (stream)
          QM.trainGate(Tables(s, dir).documents,
            positiveSources = Seq("src0", "src1", "src2", "src3", "src4"),
            frac = 0.25, iters = 3)
        else (Vector.fill(QM.Dim)(0.0): IndexedSeq[Double], 0.0, 0.5)
      QM.scoreWith(docsSource(s, dir, stream), w, bias)
        .filter(col("score") >= thr)
        .select("doc_id", "score")
    }

    def s23(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      val M = graft.operators.Mixture
      import s.implicits._
      // audit mode: literal per-mille rates (one upsampling, one
      // thinning) through the SAME applyRates lineage — no doremi
      // training or driver collect just to read a plan
      val rates =
        if (stream) {
          val static = Tables(s, dir).documents
          val (_, weights) = M.doremiTrain(static)
          M.realizedRates(static, weights, targetTotal = 400L)
            .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
            .toDF("source", "per_mille")
        } else Seq(("src0", 1500L), ("src1", 500L)).toDF("source", "per_mille")
      M.applyRates(docsSource(s, dir, stream), rates)
    }

    def s24(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      val evalSet = Tables(s, dir).embeddings.filter(col("vec_id") < 100)
      val physicalSchema = s.read.parquet(s"$dir/embeddings.parquet").schema
      val raw =
        if (stream)
          s.readStream.schema(physicalSchema)
            .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
        else
          s.read.schema(physicalSchema)
            .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      val corpus = raw.filter(col("vec_id") >= 100)
      graft.operators.Decontamination
        .flagContaminatedEmbedding(corpus, evalSet, threshold = 0.2)
    }

    /** The s25 quota frame over ANY documents-shaped source — the run
      * feeds it the staged arrival directory as a stream, the audit
      * feeds it the static table as a batch leaf ([[docsSource]],
      * same lineage above the leaf).
      */
    def s25Quota(s: SparkSession, docs: DataFrame): DataFrame = {
      import s.implicits._
      val src = docs
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).as("n_tokens"))
        .as[(String, Long, Int)]
      graft.streaming.StatefulOps.tokenQuota(src, 2000L)
        .toDF("doc_id", "source", "n_tokens", "start_off", "kept")
    }

    /** The s31 CUSUM-path frame over ANY events-shaped source (the
      * s25Quota pattern: the run feeds the staged ts-ordered arrival
      * stream, the audit a batch leaf). One long of state per key;
      * reference 55.0 in micro-units — n107's constants.
      */
    def s31Path(s: SparkSession, events: DataFrame): DataFrame = {
      import s.implicits._
      val src = events
        .select(col("event_type"), unix_micros(col("ts")).as("tsm"),
          col("event_id"),
          floor(col("value") * lit(1000000.0)).cast("long").as("x"))
        .as[(String, Long, Long, Long)]
      graft.streaming.StatefulOps.cusumPath(src, 55000000L)
        .toDF("event_type", "tsm", "event_id", "s")
    }

    def s26(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      val physicalSchema = s.read.parquet(s"$dir/documents.parquet").schema
      val docs =
        if (stream)
          s.readStream.schema(physicalSchema)
            .option("pathGlobFilter", "documents.parquet").parquet(dir)
        else
          s.read.schema(physicalSchema)
            .option("pathGlobFilter", "documents.parquet").parquet(dir)
      graft.operators.Objectives.sftGate(docs)
    }

    def s27(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      val P = graft.operators.Preference
      // audit mode: zero reward weights — same literal-embedding
      // argument as s21's stand-in
      val w =
        if (stream) P.btTrain(Tables(s, dir).documents, iters = 3)
        else Vector.fill(graft.operators.QualityModel.Dim)(0.0)
      P.scoreWith(docsSource(s, dir, stream), w)
        .filter(col("score") > 0.0)
    }

    def s28(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      val TA = graft.operators.TextAnalysis
      // run mode freezes the fitted vocab (localCheckpoint executes —
      // the per-batch plan must not refit it); audit mode keeps the
      // lazy lineage, which additionally puts fitVocab's own bounded
      // top-64 under the sweep's limit checks
      val fitted = TA.fitVocab(Tables(s, dir).documents, 64)
      val vocab = if (stream) fitted.localCheckpoint() else fitted
      TA.oovBySource(docsSource(s, dir, stream), vocab)
    }

    def s29(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      val D = graft.operators.Drift
      val base = D.baselineCounts(
        Tables(s, dir).events.filter(col("event_id") % 2 === 0),
        "event_type", "value").localCheckpoint()
      val ev = eventsSource(s, dir, stream).filter(col("event_id") % 2 === 1)
      D.chiSquareDrift(ev, base, "event_type", "value")
    }

    def s30(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      val D = graft.operators.Drift
      val bounds = D.winsorizeBounds(Tables(s, dir).events,
        "event_type", "value")
        .select("event_type", "lo_bound", "hi_bound").localCheckpoint()
      D.clipMonitor(eventsSource(s, dir, stream), bounds, "event_type", "value")
    }

    /** s32: the batch gate-panel operator applied verbatim to the
      * stream — every carried aggregate (n, keep votes, pair
      * agreements) is an order-insensitive integer sum, so the
      * update-mode running state converges to EXACTLY n109's batch
      * output; the kappa arithmetic is a stateless projection on the
      * S-row aggregate.
      */
    def s32(s: SparkSession, dir: String, stream: Boolean = true): DataFrame =
      graft.operators.TextAnalysis.gateFleiss(docsSource(s, dir, stream))

    /** s33: the streaming-legal half of the binned KS statistic —
      * ONE update-mode aggregation, one state row per (type, bin),
      * both carried sums order-insensitive exact integers. The
      * cumulative-ECDF report half runs batch over this state (the
      * s31 aggregate-the-emitted-state precedent) via the SAME
      * `ksFromBinCounts` the batch n111 composes — audit and run
      * share one definition of each stage.
      */
    def s33(s: SparkSession, dir: String, stream: Boolean = true): DataFrame =
      graft.operators.Drift.ksBinCounts(
        eventsSource(s, dir, stream), "event_type", "value",
        col("event_id") % 2 === 0)

    /** s35: the same streaming-legal [[graft.operators.Drift.ksBinCounts]]
      * half as s33 — ONE update-mode aggregation, one state row per
      * (type, bin), order-insensitive exact integer sums — consumed by
      * the HELLINGER report half instead of the KS one. One stream
      * state definition, two drift statistics over it.
      */
    def s35(s: SparkSession, dir: String, stream: Boolean = true): DataFrame =
      s33(s, dir, stream)

    /** s36: the streaming-legal half of embedding-space drift — the
      * [[graft.operators.Similarity.centOccupancy]] codebook argmax is
      * a stateless scan-stage fold, so the stream carries ONE
      * update-mode aggregation with numCentroids state rows; the
      * occupancy-gap report half runs batch over the emitted state
      * (the s33 pattern, embedding-space edition).
      */
    def s36(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      val physicalSchema = s.read.parquet(s"$dir/embeddings.parquet").schema
      val raw =
        if (stream)
          s.readStream.schema(physicalSchema)
            .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
        else
          s.read.schema(physicalSchema)
            .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      // the codebook comes from the STATIC table (deriving it from the
      // stream would be a stream-stream join): the s19/s21 batch-model
      // → streaming-apply shape, with the model being 16 centroids
      val cents = graft.operators.Similarity.lowIdCents(
        Tables(s, dir).embeddings
          .select(col("vec_id").as("id"), col("embedding")))
      graft.operators.Similarity.centOccupancy(
        raw.select(col("vec_id").as("id"), col("embedding")),
        col("id") % 2 === 0, cents)
    }

    /** s38: the n121 champion/challenger on the STREAM — v1 pinned,
      * v2 latest, both loaded from the on-disk artifact store
      * (driver-collected model rows, the s34 pattern), the stream
      * clip-checked under BOTH and the per-type disagreement carried
      * in ONE update-mode aggregation of exact integer sums. This is
      * the shadow-deployment shape at its real operating point: the
      * retrain is evaluated against the serving model ON LIVE TRAFFIC
      * without gating anything. Audit mode: literal stand-in bounds
      * through the same lineage.
      */
    def s38(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      import s.implicits._
      val models: DataFrame =
        if (stream) {
          val base =
            java.nio.file.Files.createTempDirectory("graft_s38_").toFile
          val rows = try {
            val art = new java.io.File(base, "bounds").getAbsolutePath
            val ev = Tables(s, dir).events
            def bounds(df: DataFrame) = graft.operators.Drift
              .winsorizeBounds(df, "event_type", "value")
              .select("event_type", "lo_bound", "hi_bound")
            graft.operators.ModelArtifacts.writeVersion(
              bounds(ev.filter(col("event_id") % 2 === 0)), art, 1)
            graft.operators.ModelArtifacts.writeVersion(bounds(ev), art, 2)
            val v1 = graft.operators.ModelArtifacts.loadVersion(s, art, 1)
            val v2 = graft.operators.ModelArtifacts.loadLatest(s, art)
            v1.select(col("event_type"),
                col("lo_bound").as("lo1"), col("hi_bound").as("hi1"))
              .join(v2.select(col("event_type"),
                col("lo_bound").as("lo2"), col("hi_bound").as("hi2")),
                "event_type")
              .collect().toSeq
              .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
                r.getDouble(3), r.getDouble(4)))
          } finally {
            def rm(f: java.io.File): Unit = {
              Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
            }
            rm(base)
          }
          rows.toDF("event_type", "lo1", "hi1", "lo2", "hi2")
        } else
          Seq(("view", 1.0, 9.0, 2.0, 8.0), ("click", 1.0, 9.0, 2.0, 8.0))
            .toDF("event_type", "lo1", "hi1", "lo2", "hi2")
      eventsSource(s, dir, stream)
        .select(col("event_type"), col("value").as("v"))
        .join(broadcast(models), Seq("event_type"), "left")
        .withColumn("out1", col("v") < col("lo1") || col("v") > col("hi1"))
        .withColumn("out2", col("v") < col("lo2") || col("v") > col("hi2"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("out1"), 1L).otherwise(0L)).as("v1_out"),
          sum(when(col("out2"), 1L).otherwise(0L)).as("v2_out"),
          sum(when(col("out1") =!= col("out2"), 1L).otherwise(0L))
            .as("n_disagree"))
    }

    /** s37: the streaming-legal half of the n122 dup card — one
      * update-mode aggregation keyed by (source, fingerprint), exact
      * integer copy counts (fingerprinting is a stateless scan
      * expression). The per-source card rolls up over the emitted
      * state batch-side (the s33 collapse pattern).
      */
    def s37(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      import graft.functions.TextFunctions.fingerprint
      docsSource(s, dir, stream)
        .select(col("source"), fingerprint(col("text")).as("fp"))
        .groupBy("source", "fp")
        .agg(count(lit(1)).as("copies"))
    }

    /** s39: the streaming-legal half of the n129 packing-efficiency
      * card — [[graft.operators.Packing.packingStateCounts]] applied
      * verbatim to the document stream (one update-mode aggregation,
      * S·|contexts| state rows of monotone integer sums; the bounded
      * per-row explode is a stateless scan expression). The report
      * half runs batch-side over the collapsed state through the SAME
      * [[graft.operators.Packing.packingReportFromCounts]] the n129
      * query composes — one definition of every derived column.
      */
    def s39(s: SparkSession, dir: String, stream: Boolean = true): DataFrame =
      graft.operators.Packing.packingStateCounts(
        docsSource(s, dir, stream),
        graft.operators.Packing.defaultContexts)

    /** s40: the prototype-outlier gate — n133's scoring at streaming
      * ingest shape. The per-label mean-embedding prototypes are the
      * offline model (an L-row lazy frame over the STATIC table —
      * building the plan runs no job), broadcast into a stream-static
      * equi-join on label; scoring is one scan-stage cosine per row
      * and the gate is a stateless filter (append mode, no state
      * store). Vectors anti-aligned with their own label's prototype
      * (proto_sim < 0) are the mislabeled/outlier review queue —
      * caught at ingest, before they dilute a class prototype that
      * downstream pruning (n133) trusts.
      */
    def s40(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      val physicalSchema = s.read.parquet(s"$dir/embeddings.parquet").schema
      val raw =
        if (stream)
          s.readStream.schema(physicalSchema)
            .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
        else
          s.read.schema(physicalSchema)
            .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      val protos =
        graft.operators.Geometry.labelPrototypes(Tables(s, dir).embeddings)
      raw.join(broadcast(protos), "label")
        .select(col("vec_id"), col("label"),
          graft.functions.VectorFunctions
            .cosine(col("embedding"), col("proto")).as("proto_sim"))
        .filter(col("proto_sim") < 0.0)
    }

    /** s41: n139's fertility counting half on the stream — ONE
      * update-mode aggregation of monotone BIGINT sums per (source,
      * lang); the ratio half runs batch-side over the collapsed state
      * through the SAME report function (the s39 split). A slice whose
      * bytes-per-token climbs mid-ingest just switched script or
      * encoding — caught while the feed streams, not at the next
      * tokenizer audit.
      */
    def s41(s: SparkSession, dir: String, stream: Boolean = true): DataFrame =
      graft.operators.TextAnalysis
        .fertilityCounts(docsSource(s, dir, stream))

    /** s42: n138's rendezvous assignment as the continuous ingest
      * router — a stateless scan-stage projection (the HRW argmax is
      * a per-row fold over W md5 draws), append mode, no state store.
      * This is the property n138's card prices: the SAME deterministic
      * draw routes a doc identically whether it arrives in a batch
      * backfill or on the live stream, so a worker-count resize
      * re-homes only the ~1/W the card predicts.
      */
    def s42(s: SparkSession, dir: String, stream: Boolean = true): DataFrame =
      docsSource(s, dir, stream)
        .select(col("doc_id"),
          graft.operators.Packing.rendezvousShard(col("doc_id"), 9)
            .as("shard"))

    /** s44: the n154 pass@k monitor's scoring half — each streamed
      * candidate scored by the offline-trained reward (the s21
      * batch-model-gate convention: audit mode takes zero weights
      * through the SAME scoring lineage, so no training runs to read a
      * plan). Scoring is ONE stateless per-row expression (r16 — no
      * streaming state at all); grouping, the median threshold, and
      * the combinatorial estimator run batch-side over the collapsed
      * sink through the SAME
      * [[graft.operators.Preference.passAtKFromScores]] half as n154,
      * under n154's oracle verbatim.
      */
    def s44(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      val P = graft.operators.Preference
      val w: IndexedSeq[Double] =
        if (stream) P.btTrain(Tables(s, dir).documents, iters = 3)
        else Vector.fill(graft.operators.QualityModel.Dim)(0.0)
      P.scoreWith(docsSource(s, dir, stream), w)
    }

    /** s43: n143's anisotropy diagnosis at ingest — the moment half
      * ([[graft.operators.Geometry.anisotropyMoments]]) as ONE
      * update-mode aggregation keyed by dim (D+1 state rows, decimal
      * sums split into monotone positive/negative channels so the
      * memory-sink collapse is trigger-slicing-safe); the report half
      * runs batch-side over the collapsed state and emits n143's six
      * columns under its oracle verbatim. Completes the
      * diagnosis-at-ingest panel beside s36 (codebook occupancy) and
      * s40 (prototype outliers): a representation collapsing onto its
      * mean is caught while the feed streams, not at the next offline
      * geometry audit.
      */
    def s43(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      val physicalSchema = s.read.parquet(s"$dir/embeddings.parquet").schema
      val raw =
        if (stream)
          s.readStream.schema(physicalSchema)
            .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
        else
          s.read.schema(physicalSchema)
            .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      graft.operators.Geometry.anisotropyMoments(raw)
    }

    /** s45: the strict-order funnel's streaming half — the scan-stage
      * step filter/projection of [[graft.operators.Funnels.slimSteps]]
      * as a stateless append-mode passthrough (the s42 class). The
      * strictly-after chaining is order-sensitive and holds no exact
      * bounded streaming state under late arrivals (a late earlier
      * first-step event re-admits candidates a frontier would have
      * discarded — see slimSteps' scaladoc), so the report half runs
      * batch-side over the collapsed sink through the SAME
      * [[graft.operators.Funnels.funnelFromSlim]] as n152, under
      * n152's oracle verbatim.
      */
    def s45(s: SparkSession, dir: String, stream: Boolean = true): DataFrame =
      graft.operators.Funnels.slimSteps(eventsSource(s, dir, stream),
        Seq("view", "click", "purchase"))

    /** s46: w13's OHLC bars as a textbook update-mode streaming
      * aggregation — the identical one-hash-agg plan (argmin/argmax
      * struct selections for open/close, min/max/count, decimal-exact
      * volume) over the streamed events. Every bar's state is one
      * fixed-size row per (hour, event_type); the batch-side collapse
      * keys each bar to its LATEST emitted version by the strictly-
      * growing event count n (update mode re-emits a bar whenever new
      * events land in it; max-by-n is the s37 monotone collapse
      * generalized to non-monotone columns riding a monotone version
      * key). Oracle = w13's SQL verbatim.
      */
    def s46(s: SparkSession, dir: String, stream: Boolean = true): DataFrame =
      eventsSource(s, dir, stream)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(
          min(struct(col("ts"), col("event_id"), col("value"))).as("o"),
          max(struct(col("ts"), col("event_id"), col("value"))).as("c"),
          max(col("value")).as("high"), min(col("value")).as("low"),
          count(lit(1)).as("n"), dsum(col("value")).as("volume"))
        .select(unix_timestamp(col("w.start")).as("w_start"),
          col("event_type"), col("o.value").as("open"), col("high"),
          col("low"), col("c.value").as("close"), col("n"), col("volume"))

    /** s47: the streaming-legal half of the n153 cohort-retention
      * card — ONE update-mode aggregation keyed (user_id, day): each
      * state row is a single monotone event count whose only job is
      * to witness that the user was active that day. First-seen day
      * (a per-user MIN over days) and the (cohort, offset) matrix are
      * NOT streamed — they run batch-side over the collapsed sink
      * through the SAME
      * [[graft.operators.Funnels.cohortRetentionFromDays]] report
      * half the n153 card composes, because a user's cohort can
      * REGRESS when an earlier day arrives late (MIN is
      * streaming-legal but every dependent matrix cell would need
      * retraction — the s45 ordering-sensitivity argument, in
      * date form). State: one fixed row per (user, active-day) —
      * users × active-days, the same key-bounded contract as s37.
      */
    def s47(s: SparkSession, dir: String, stream: Boolean = true): DataFrame =
      eventsSource(s, dir, stream)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .groupBy("user_id", "day")
        .agg(count(lit(1)).as("n_events"))

    /** s34: the trained-artifact lifecycle at production shape —
      * batch-train per-source p25 token-length floors, write them as
      * TWO versions of an on-disk [[graft.operators.ModelArtifacts]]
      * store (v1 on half the corpus, v2 on all of it), load the
      * LATEST back with a fresh disk read, and gate the STREAMING
      * corpus with it. The loaded S-row model is driver-collected
      * (bounded model state — the s23 realizedRates precedent), so
      * the artifact store's lifetime ends before the stream starts
      * and the gate plan joins a LocalRelation leaf. Selecting the
      * wrong version changes every threshold → hash mismatch: the
      * version-selection logic itself sits under the oracle. Audit
      * mode: a literal two-row stand-in model through the SAME gate
      * lineage.
      */
    def s34(s: SparkSession, dir: String, stream: Boolean = true): DataFrame = {
      import s.implicits._
      val model: DataFrame =
        if (stream) {
          val base =
            java.nio.file.Files.createTempDirectory("graft_s34_").toFile
          val rows = try {
            val art = new java.io.File(base, "len_gate").getAbsolutePath
            val docs = Tables(s, dir).documents
            def floors(d: DataFrame) = graft.operators.Drift
              .winsorizeBounds(
                d.select(col("source"),
                  size(split(col("text"), " ")).cast("long").as("n_tok"))
                  .filter(col("n_tok").isNotNull),
                "source", "n_tok", loPct = 25, hiPct = 99)
              .select(col("source"), col("lo_bound").as("thr_tok"))
            graft.operators.ModelArtifacts.writeVersion(
              floors(docs.filter(col("doc_id") % 2 === 0)), art, 1)
            graft.operators.ModelArtifacts.writeVersion(floors(docs), art, 2)
            graft.operators.ModelArtifacts.loadLatest(s, art)
              .select("source", "thr_tok", "version")
              .collect().toSeq
              .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
          } finally {
            def rm(f: java.io.File): Unit = {
              Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
            }
            rm(base)
          }
          rows.toDF("source", "thr_tok", "version")
        } else
          Seq(("src0", 10L, 1), ("src1", 12L, 1))
            .toDF("source", "thr_tok", "version")
      docsSource(s, dir, stream)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .join(broadcast(model), Seq("source"), "left")
        .filter(col("n_tok") >= col("thr_tok"))
        .groupBy(col("source"), col("version"), col("thr_tok"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("tok_kept"))
    }

    /** s15's per-batch scoring frame — the EXACT builder the run's
      * foreachBatch calls on each micro-batch slice; the audit applies
      * it to a static stand-in corpus. Shared so the audited lineage
      * and the executed lineage cannot drift apart.
      */
    def s15PerBatch(qs: DataFrame, corpus: DataFrame): DataFrame =
      graft.operators.Similarity.bruteTopK(qs, corpus, 5)
        .select("q_id", "n_id", "cos_sim")

    /** s15's partial-merge frame (window partitioned by q_id) — the
      * EXACT builder the run applies to the accumulated Q×k partials.
      */
    def s15Merge(partials: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("q_id").orderBy(desc("cos_sim"), asc("n_id"))
      partials
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 5)
    }

    /** s15's foreachBatch interior for the plan audit: [[s15PerBatch]]
      * on a static stand-in corpus plus [[s15Merge]] on a partials-
      * shaped literal frame.
      */
    def s15Interior(s: SparkSession, dir: String): Seq[DataFrame] = {
      import s.implicits._
      val emb = Tables(s, dir).embeddings
        .select(col("vec_id").as("id"), col("embedding"))
      val qs = emb.filter(col("id") < 10)
      // non-empty partials stand-in (the s20 PropagateEmptyRelation rule)
      val partials = Seq((0L, 1L, 0.5)).toDF("q_id", "n_id", "cos_sim")
      Seq(s15PerBatch(qs, emb), s15Merge(partials))
    }

    /** s20's per-batch admission frames — the EXACT builder the run's
      * foreachBatch executes per micro-batch (batch-vs-index probe,
      * within-batch band self-join + Jaccard verify, left-anti
      * admission), shared with the audit so the two cannot drift.
      * Returns (corpusDups, candBatch, batchDups, admitted).
      */
    def s20Admission(
        batch: DataFrame, shN: DataFrame, bandsN: DataFrame,
        idxBands: DataFrame, idxShingles: DataFrame)
        : (DataFrame, DataFrame, DataFrame, DataFrame) = {
      val D = graft.operators.Dedup
      val ssN = shN.groupBy("doc_id").agg(collect_list(col("s")).as("ls"))
      // batch-vs-index admission through the SHARED
      // [[graft.operators.Dedup.verifiedIndexDups]] probe: band
      // equi-join candidates, standing shingle state semi-filtered
      // to surfaced docs BEFORE its per-doc aggregation (the read
      // is candidate-bounded, not index-bounded — the axis the
      // stream_dedup_index ScaleProbe row measures on this code path)
      val corpusDups = D.verifiedIndexDups(bandsN, shN, idxBands,
        idxShingles, 0.5)
      val candBatch = bandsN.as("a")
        .join(bandsN.as("b"),
          col("a.band_id") === col("b.band_id") &&
            col("a.band_key") === col("b.band_key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      val batchDups = D.verifyJaccardPortable(candBatch, ssN, 0.5)
      val rejected = corpusDups
        .select(col("id_a").as("doc_id"))   // the NEW side of a corpus dup
        .union(batchDups.select(col("id_b").as("doc_id"))) // higher id of a batch dup
        .distinct()
      val admitted = batch.join(rejected, Seq("doc_id"), "left_anti")
      (corpusDups, candBatch, batchDups, admitted)
    }

    /** s20's foreachBatch interior for the plan audit: [[s20Admission]]
      * on static stand-ins. The standing state stand-ins must be
      * NON-empty frames (an empty filter(lit(false)) stand-in would let
      * PropagateEmptyRelation collapse the whole probe to a
      * LocalRelation and the audit would check nothing), so the static
      * corpus's own shingles/bands stand in for the index.
      */
    def s20Interior(s: SparkSession, dir: String): Seq[DataFrame] = {
      val D = graft.operators.Dedup
      val docs = Tables(s, dir).documents
      val shN = D.portableShingles(docs)
      val bandsN = D.portableMinHashBandsFromDocs(docs)
      val (corpusDups, candBatch, batchDups, admitted) =
        s20Admission(docs, shN, bandsN, bandsN, shN)
      Seq(corpusDups, candBatch, batchDups, admitted)
    }

    /** s22's per-batch changeset application — the EXACT builder the
      * run's foreachBatch executes per micro-batch, shared with the
      * audit so the two cannot drift.
      */
    def s22Apply(cur: DataFrame, batch: DataFrame): DataFrame =
      graft.operators.Snapshot
        .applyChangeset(cur, batch, idCol = "doc_id")
        .select(col("doc_id"), col("text"))

    /** s22's final classification join (snapshot vs original base) —
      * the EXACT builder the run materializes after the stream drains.
      */
    def s22Classify(fin: DataFrame, baseSnap: DataFrame): DataFrame = {
      import graft.functions.TextFunctions.fingerprint
      fin.as("n")
        .join(baseSnap.as("b"), Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          when(col("b.text").isNull, lit("inserted"))
            .when(col("n.text") === col("b.text"), lit("kept"))
            .otherwise(lit("updated")).as("provenance"),
          fingerprint(col("n.text")).as("fp"))
    }

    /** s22's foreachBatch interior for the plan audit: [[s22Apply]] +
      * [[s22Classify]] on static stand-ins.
      */
    def s22Interior(s: SparkSession, dir: String): Seq[DataFrame] = {
      val docs = Tables(s, dir).documents
      val baseSnap = docs.select(col("doc_id"), col("text"))
      val changes = NorthStar4.mergeChangeset(docs)
      val merged = s22Apply(baseSnap, changes)
      Seq(merged, s22Classify(merged, baseSnap))
    }
  }

  /** Every s-query's auditable pre-sink plan(s), keyed by query name —
    * the PlanQualitySpec streaming sweep. Every frame is built in
    * audit mode (`stream = false`): the same lineage the run streams,
    * planned over batch leaves of the same files — so `executedPlan`
    * is forceable and real (the batch planner MatchErrors on
    * watermarked StreamingRelation leaves — r10 verdict #1) and the
    * join-strategy checks see actual physical operators. foreachBatch
    * queries expose their batch-shaped interiors (built through the
    * same shared operator functions the run calls per micro-batch)
    * plus, where the phase query itself aggregates, the phase frame. A registered
    * s-query missing here fails the spec's completeness assert.
    */
  private[graft] def auditFrames(
      s: SparkSession, dir: String): Seq[(String, Seq[DataFrame])] = Seq(
    "s01_stream_tumbling_complete" -> Seq(Frames.s01(s, dir, stream = false)),
    "s02_stream_tumbling_append" -> Seq(Frames.s02(s, dir, stream = false)),
    "s03_stream_dedup" -> Seq(Frames.s03(s, dir, stream = false)),
    "s04_stream_static_join" -> Seq(Frames.s04(s, dir, stream = false)),
    "s05_stream_from_queue" -> {
      import s.implicits._
      // a NON-empty batch stand-in for the memory queue (an empty one
      // would collapse to LocalRelation under PropagateEmptyRelation
      // and audit nothing — the s20 rule); the run's MemoryStream leaf
      // itself cannot be batch-planned (StreamingRelationV2 MatchError)
      Seq(Frames.s05Agg(
        Seq(("view", 1.0), ("purchase", 2.0)).toDF("event_type", "value")))
    },
    "s06_stream_stream_join" -> Seq(Frames.s06(s, dir, stream = false)),
    "s07_stream_sessionization" -> Seq(Frames.s07(s, dir, stream = false)),
    "s08_stream_stream_outer" -> Seq(Frames.s08(s, dir, stream = false)),
    "s09_stream_stateful_max" -> Seq(Frames.s09(s, dir, stream = false)),
    "s10_stream_chained_windows" -> Seq(Frames.s10(s, dir, stream = false)),
    "s11_stream_union" -> Seq(Frames.s11(s, dir, stream = false)),
    "s12_stream_sliding_append" -> Seq(Frames.s12(s, dir, stream = false)),
    "s13_stream_transform_with_state" -> Seq(Frames.s13(s, dir, stream = false)),
    "s14_stream_timer_sessions" -> Seq(Frames.s14(s, dir, stream = false)),
    "s15_stream_vector_search" -> Frames.s15Interior(s, dir),
    "s16_stream_curation" -> Seq(Frames.s16(s, dir, stream = false)),
    "s17_stream_checkpoint_recovery" -> Seq(Frames.s17Phase(s, dir)),
    "s18_stream_three_way_join" -> Seq(Frames.s18(s, dir, stream = false)),
    "s19_stream_importance_gate" -> Seq(Frames.s19(s, dir, stream = false)),
    "s20_stream_near_dedup" -> Frames.s20Interior(s, dir),
    "s21_stream_quality_gate" -> Seq(Frames.s21(s, dir, stream = false)),
    "s22_stream_snapshot_merge" -> Frames.s22Interior(s, dir),
    "s23_stream_mixture_realize" -> Seq(Frames.s23(s, dir, stream = false)),
    "s24_stream_embedding_decontam" -> Seq(Frames.s24(s, dir, stream = false)),
    "s25_stream_source_quota" -> Seq(Frames.s25Quota(s, docsSource(s, dir, stream = false))),
    "s26_stream_sft_gate" -> Seq(Frames.s26(s, dir, stream = false)),
    "s27_stream_reward_gate" -> Seq(Frames.s27(s, dir, stream = false)),
    "s28_stream_oov_monitor" -> Seq(Frames.s28(s, dir, stream = false)),
    "s29_stream_drift_monitor" -> Seq(Frames.s29(s, dir, stream = false)),
    "s30_stream_clip_monitor" -> Seq(Frames.s30(s, dir, stream = false)),
    "s31_stream_cusum_monitor" ->
      Seq(Frames.s31Path(s, eventsSource(s, dir, stream = false))),
    "s32_stream_gate_panel" -> Seq(Frames.s32(s, dir, stream = false)),
    "s33_stream_ks_monitor" -> Seq(
      graft.operators.Drift.ksFromBinCounts(
        Frames.s33(s, dir, stream = false), "event_type")),
    "s34_stream_artifact_gate" -> Seq(Frames.s34(s, dir, stream = false)),
    "s35_stream_hellinger_monitor" -> Seq(
      graft.operators.Drift.hellingerFromBinCounts(
        Frames.s35(s, dir, stream = false), "event_type")),
    "s36_stream_embedding_drift" -> Seq(
      graft.operators.Similarity.occupancyGapReport(
        Frames.s36(s, dir, stream = false))),
    "s37_stream_dup_card" -> Seq(Frames.s37(s, dir, stream = false)),
    "s38_stream_shadow_eval" -> Seq(Frames.s38(s, dir, stream = false)),
    "s39_stream_packing_monitor" -> Seq(Frames.s39(s, dir, stream = false)),
    "s40_stream_prototype_gate" -> Seq(Frames.s40(s, dir, stream = false)),
    "s41_stream_fertility_monitor" -> Seq(Frames.s41(s, dir, stream = false)),
    "s42_stream_shard_router" -> Seq(Frames.s42(s, dir, stream = false)),
    "s43_stream_anisotropy_monitor" ->
      Seq(Frames.s43(s, dir, stream = false)),
    "s44_stream_passk_monitor" -> Seq(Frames.s44(s, dir, stream = false)),
    "s45_stream_funnel" -> Seq(Frames.s45(s, dir, stream = false)),
    "s46_stream_ohlc_bars" -> Seq(Frames.s46(s, dir, stream = false)),
    "s47_stream_cohort_retention" -> Seq(Frames.s47(s, dir, stream = false)))

  private val completeMode = Q(
    "s01_stream_tumbling_complete",
    "streaming tumbling windows, complete mode (all windows emitted)",
    (s, dir) =>
      runToTable(Frames.s01(s, dir), "complete")
        .orderBy("w_start", "event_type"),
    Some(s"""SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS w_start,
             event_type, COUNT(*) AS n, ${oSum("value")} AS sum_value
             FROM events GROUP BY 1, 2 ORDER BY w_start, event_type"""))

  private val appendMode = Q(
    "s02_stream_tumbling_append",
    "streaming tumbling windows, append mode: only watermark-closed windows",
    (s, dir) => runToTable(Frames.s02(s, dir), "append").orderBy("w_start"),
    Some(s"""SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS w_start,
             COUNT(*) AS n, ${oSum("value")} AS sum_value
             FROM events GROUP BY 1
             HAVING w_start + 3600 <= (SELECT floor(epoch(max(ts))) FROM events)
             ORDER BY w_start"""))

  /** Streaming dedup: distinct (user, event_type) keys via
    * dropDuplicatesWithinWatermark. Only the key set is emitted (which
    * row survives per key depends on batch arrival order — the key set
    * itself is deterministic and equals relational DISTINCT).
    */
  private val streamDedup = Q(
    "s03_stream_dedup",
    "streaming dropDuplicatesWithinWatermark — distinct key set",
    (s, dir) =>
      runToTable(Frames.s03(s, dir), "append").orderBy("user_id", "event_type"),
    Some("""SELECT DISTINCT user_id, event_type FROM events
            ORDER BY user_id, event_type"""))

  /** Stream-static enrichment: the streaming fact joins a static
    * dimension (broadcast — no stream shuffle), then aggregates.
    */
  private val streamStaticJoin = Q(
    "s04_stream_static_join",
    "streaming events enriched against the static customer dimension",
    (s, dir) =>
      runToTable(Frames.s04(s, dir), "complete")
        .orderBy("c_mktsegment", "event_type"),
    Some(s"""SELECT c_mktsegment, event_type, COUNT(*) AS n,
             ${oSum("value")} AS sum_value
             FROM events JOIN customer ON user_id = c_custkey
             GROUP BY c_mktsegment, event_type
             ORDER BY c_mktsegment, event_type"""))

  /** Reference `fromQueue`/`fromBlockingQueue` (Stream.scala:305-318):
    * elements originate in a driver-side in-memory queue and stream from
    * there. MemoryStream IS that queue in Structured Streaming; the rows
    * are pre-enqueued (AvailableNow) so the result is deterministic and
    * equals the relational aggregate of the same data.
    */
  private val streamFromQueue = Q(
    "s05_stream_from_queue",
    "in-memory queue source (reference fromQueue): per-type aggregate",
    (s, dir) => {
      import s.implicits._
      implicit val sqlContext: org.apache.spark.sql.SQLContext = s.sqlContext
      val rows = Tables(s, dir).events
        .select(col("event_type"), col("value"))
        .as[(String, Double)]
        .collect() // driver-side by design: the queue is the source
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Double)]
      rows.grouped(10000).foreach(b => input.addData(b.toSeq))
      runToTable(Frames.s05Agg(input.toDF()), "complete").orderBy("event_type")
    },
    Some(s"""SELECT event_type, COUNT(*) AS n, ${oSum("value")} AS sum_value
             FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Stream-stream inner join with watermarks + a time-range condition
    * (the canonical funnel join: purchase within 30 minutes of a view).
    * Both watermarks plus the range predicate bound the join state —
    * Spark evicts a buffered view once the purchase-side watermark
    * passes v_ts + 30 min, so state is O(events in the window), not
    * O(stream). The stream is finite (AvailableNow), so the emitted
    * pair set equals the relational time-range join.
    */
  private val streamStreamJoin = Q(
    "s06_stream_stream_join",
    "watermarked stream-stream join: purchases within 30 min of a view",
    (s, dir) =>
      runToTable(Frames.s06(s, dir), "append").orderBy("view_id", "purchase_id"),
    Some("""SELECT v.event_id AS view_id, p.event_id AS purchase_id,
              v.user_id
            FROM (SELECT * FROM events WHERE event_type = 'view') v
            JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
              ON v.user_id = p.user_id AND p.ts >= v.ts
                 AND p.ts <= v.ts + INTERVAL 30 MINUTE
            ORDER BY view_id, purchase_id"""))

  /** Streaming sessionization: per-user `session_window` with a 30-min
    * inactivity gap, append mode, zero-lateness watermark. A session is
    * emitted iff the final watermark (= max event time) passed its end
    * (= last event + gap) — the oracle replays that with gaps-and-islands
    * SQL plus the closure HAVING, mirroring the s02 rule.
    */
  private val streamSessions = Q(
    "s07_stream_sessionization",
    "streaming session windows (30-min gap): watermark-closed sessions",
    (s, dir) =>
      runToTable(Frames.s07(s, dir), "append")
        .orderBy("user_id", "session_start"),
    Some(s"""WITH flagged AS (
               SELECT user_id, ts, event_id, value,
                 CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id)
                        >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
               FROM events),
             sessions AS (
               SELECT user_id, ts, value,
                 SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
               FROM flagged)
             SELECT user_id,
               CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start,
               COUNT(*) AS n, ${oSum("value")} AS sum_value
             FROM sessions GROUP BY user_id, sid
             HAVING MAX(ts) + INTERVAL 30 MINUTE <=
               (SELECT MAX(ts) FROM events)
             ORDER BY user_id, session_start"""))

  /** LEFT OUTER stream-stream join: matched pairs emit like the inner
    * join; an UNMATCHED view emits (with null purchase) only when the
    * watermark passes its join-window end and its buffered state is
    * evicted. On the finite stream the final watermark is max(ts), so
    * the null rows are exactly the matchless views whose window closed —
    * views still inside the window at end-of-stream are withheld (they
    * could still match), and the oracle encodes precisely that.
    */
  private val streamStreamOuter = Q(
    "s08_stream_stream_outer",
    "left-outer stream-stream join: null rows only for watermark-closed views",
    (s, dir) =>
      runToTable(Frames.s08(s, dir), "append").orderBy("view_id", "purchase_id"),
    Some("""WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
            p AS (SELECT * FROM events WHERE event_type = 'purchase'),
            matched AS (
              SELECT v.event_id AS view_id, p.event_id AS purchase_id,
                v.user_id
              FROM v JOIN p
                ON v.user_id = p.user_id AND p.ts >= v.ts
                   AND p.ts <= v.ts + INTERVAL 30 MINUTE),
            unmatched AS (
              SELECT v.event_id AS view_id,
                CAST(NULL AS BIGINT) AS purchase_id, v.user_id
              FROM v
              WHERE v.event_id NOT IN (SELECT view_id FROM matched)
                AND v.ts + INTERVAL 30 MINUTE <=
                  (SELECT LEAST(MAX(ts) FILTER (WHERE event_type = 'view'),
                                MAX(ts) FILTER (WHERE event_type = 'purchase'))
                   FROM events))
            SELECT * FROM matched UNION ALL SELECT * FROM unmatched
            ORDER BY view_id, purchase_id"""))

  /** Arbitrary keyed state (`mapGroupsWithState`) as a driver-checked
    * query: [[graft.streaming.StatefulOps.runningMax]] per user over the
    * event stream. MAX is order-insensitive, so the update-mode output
    * on the finite stream equals the relational aggregate regardless of
    * within-group arrival order — which is what makes this stateful op
    * oracle-checkable where a buffer-emitting one is not.
    */
  private val streamStateful = Q(
    "s09_stream_stateful_max",
    "mapGroupsWithState running per-user max == relational MAX",
    (s, dir) => runToTable(Frames.s09(s, dir), "update").orderBy("user_id"),
    Some("""SELECT user_id, MAX(value) AS max_value
            FROM events GROUP BY user_id ORDER BY user_id"""))

  /** TWO chained stateful aggregations in one streaming query (append
    * mode): 10-minute windows per event_type, re-windowed into hours via
    * `window_time` — Spark's multiple-stateful-operator support, planned
    * as one query with two state stores. Emission: the no-data batch
    * after the last file advances the watermark to max(ts); the inner
    * agg emits its closed 10-min windows and, in the SAME micro-batch,
    * the outer agg consumes them and emits every hour window whose end
    * the watermark passed — so the s02 closure rule applies at the hour
    * level and implies closure of all contained 10-min windows.
    */
  private val streamChained = Q(
    "s10_stream_chained_windows",
    "chained streaming aggs: 10-min windows re-aggregated into hours",
    // the two-level decimal sum in Frames.s10 (and its decimal→double→
    // decimal re-cast, exact only up to double's ~15-digit round-trip)
    // is mirrored step-for-step by the oracle's `ten` CTE — parity
    // comes from BOTH engines running the identical two levels, not
    // from the two-level sum equalling a one-level sum
    (s, dir) =>
      runToTable(Frames.s10(s, dir), "append").orderBy("w_start", "event_type"),
    Some(s"""WITH ten AS (
               SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS w10,
                 event_type, COUNT(*) AS n10, ${oSum("value")} AS s10
               FROM events GROUP BY 1, 2)
             SELECT CAST(floor(w10 / 3600) * 3600 AS BIGINT) AS w_start,
               event_type, CAST(SUM(n10) AS BIGINT) AS n,
               COUNT(*) AS n_subwindows, ${oSum("s10")} AS sum_value
             FROM ten GROUP BY 1, 2
             HAVING w_start + 3600 <=
               (SELECT floor(epoch(MAX(ts))) FROM events)
             ORDER BY w_start, event_type"""))

  /** Union of two independently-filtered streams feeding one windowed
    * aggregate — the multi-source fan-in shape (reference `append`,
    * Stream.scala:44-54, lifted to streaming). The union'd stream keeps
    * a single watermark (min across inputs; identical source here) and
    * one state store.
    */
  private val streamUnion = Q(
    "s11_stream_union",
    "union of two filtered streams into one hourly windowed aggregate",
    (s, dir) => runToTable(Frames.s11(s, dir), "append").orderBy("w_start"),
    Some(s"""SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS w_start,
             COUNT(*) AS n, ${oSum("value")} AS sum_value
             FROM events WHERE event_type IN ('view', 'purchase')
             GROUP BY 1
             HAVING w_start + 3600 <=
               (SELECT floor(epoch(MAX(ts)))
                FROM events WHERE event_type IN ('view', 'purchase'))
             ORDER BY w_start"""))

  /** Streaming SLIDING windows (w02's batch form, under a watermark):
    * each event lands in size/slide = 2 overlapping windows; append mode
    * emits a window once the watermark passes its end (same s02 closure
    * rule, applied per overlapping window).
    */
  private val streamSliding = Q(
    "s12_stream_sliding_append",
    "streaming 1-hour windows sliding every 30 min, watermark-closed",
    (s, dir) => runToTable(Frames.s12(s, dir), "append").orderBy("w_start"),
    Some(s"""SELECT w_start, COUNT(*) AS n, ${oSum("value")} AS sum_value
             FROM (SELECT CAST(floor(epoch(ts) / 1800) * 1800 - off AS BIGINT)
                     AS w_start, value
                   FROM events CROSS JOIN (SELECT unnest([0, 1800]) AS off))
             GROUP BY w_start
             HAVING w_start + 3600 <=
               (SELECT floor(epoch(MAX(ts))) FROM events)
             ORDER BY w_start"""))

  private val stateStoreProviderKey =
    "spark.sql.streaming.stateStore.providerClass"
  private val rocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The Spark 4 arbitrary-state API (`transformWithState`,
    * successor to s09's `mapGroupsWithState`): running per-user
    * (count, max) via an explicit named ValueState. The API requires
    * the RocksDB state store provider — swapped in for this query the
    * same way runToTable scopes its shuffle-partition override; the
    * provider is itself the scale story (changelog-checkpointed state
    * off the executor heap).
    */
  private val streamTws = Q(
    "s13_stream_transform_with_state",
    "transformWithState running per-user (count, max) == relational agg",
    (s, dir) => {
      GraftSession.withConf(s, stateStoreProviderKey, rocksDbProvider) {
        runToTable(Frames.s13(s, dir), "update").orderBy("user_id")
      }
    },
    Some("""SELECT user_id, COUNT(*) AS n, MAX(value) AS max_value
            FROM events GROUP BY user_id ORDER BY user_id"""))

  /** Sessionization REBUILT from raw stateful primitives — ListState
    * buffering + event-time TIMERS on `transformWithState` (see
    * [[graft.streaming.StatefulOps.timerSessions]]) — instead of the
    * built-in `session_window` that s07 uses. Same 30-minute gap, same
    * watermark-closure rule, same oracle as s07: the point is that the
    * timer API reproduces the engine's own session semantics exactly.
    */
  private val streamTimerSessions = Q(
    "s14_stream_timer_sessions",
    "timer-driven sessionization (transformWithState) == session_window",
    (s, dir) => {
      GraftSession.withConf(s, stateStoreProviderKey, rocksDbProvider) {
        runToTable(Frames.s14(s, dir), "append")
          .orderBy("user_id", "session_start")
      }
    },
    Some(s"""WITH flagged AS (
               SELECT user_id, ts, event_id, value,
                 CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id)
                        >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
               FROM events),
             sessions AS (
               SELECT user_id, ts, value,
                 SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
               FROM flagged)
             SELECT user_id,
               CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start,
               COUNT(*) AS n, ${oSum("value")} AS sum_value
             FROM sessions GROUP BY user_id, sid
             HAVING MAX(ts) + INTERVAL 30 MINUTE <=
               (SELECT MAX(ts) FROM events)
             ORDER BY user_id, session_start"""))

  /** Streaming vector search: the corpus STREAMS IN (continuous index
    * ingestion) and is scored per micro-batch against the broadcast
    * static query set — scan-stage [[graft.functions.VectorFunctions]]
    * cosine, no stream state, no shuffle of the corpus. Each batch
    * keeps only its PARTIAL top-k per query (window rank inside
    * foreachBatch, where the batch is a plain DataFrame); the global
    * top-k is then the top-k of the union of partials — the canonical
    * distributed top-k merge, so the sink accumulates Q×k rows per
    * batch, never the full Q×N score matrix. Oracle = the n05
    * brute-force SQL (identical result by the merge property).
    */
  private val streamVectorSearch = Q(
    "s15_stream_vector_search",
    "streaming corpus ingestion scored against broadcast queries, top-5",
    (s, dir) => {
      val qs = Tables(s, dir).embeddings
        .select(col("vec_id").as("id"), col("embedding"))
        .filter(col("id") < 10)
      val corpus = {
        s.readStream
          .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
          .option("pathGlobFilter", "embeddings.parquet")
          .parquet(dir)
          .select(col("vec_id").as("id"), col("embedding"))
      }
      val partials = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      val q = corpus.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          // the per-batch scoring + partial top-k IS bruteTopK on the
          // batch slice (same tie-break — the merge property needs it);
          // Frames.s15PerBatch is the SAME builder the plan audit
          // checks, so audit and execution cannot drift
          val top = Frames.s15PerBatch(qs, batch)
          // Q×k rows per batch — the only driver-side materialization
          partials ++= top.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getDouble(2)))
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      import s.implicits._
      Frames.s15Merge(partials.toSeq.toDF("q_id", "n_id", "cos_sim"))
        .orderBy("q_id", "rank")
    },
    Some("""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
                       FROM embeddings WHERE vec_id < 10),
            scored AS (
              SELECT q_id, e.vec_id AS n_id,
                list_reduce(list_transform(list_zip(q_emb, e.embedding),
                    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
                  (acc, x) -> acc + x)
                / (sqrt(list_reduce(list_transform(q_emb,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                    (acc, x) -> acc + x))
                 * sqrt(list_reduce(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                    (acc, x) -> acc + x))) AS cos_sim
              FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q_id),
            ranked AS (
              SELECT q_id, n_id, cos_sim,
                row_number() OVER (PARTITION BY q_id
                  ORDER BY cos_sim DESC, n_id ASC) AS rank
              FROM scored)
            SELECT q_id, n_id, cos_sim, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 5 ORDER BY q_id, rank"""))

  /** Streaming corpus curation: the DOCUMENTS table streams in (the
    * continuous-ingestion production shape for a training-data
    * pipeline) and every document passes the shared quality gate
    * (TextFunctions.qualityOk on NORMALIZED text, minTokens = 25 — a
    * threshold the fixture genuinely splits on, ~16% fail; gating the
    * normalized form also makes the outcome identical for every member
    * of a fingerprint-duplicate group, so the result cannot depend on
    * which duplicate survives) plus
    * streaming exact dedup (dropDuplicates on (source, fingerprint) —
    * state is one 16-byte key per distinct document per source,
    * watermark-free because the gate is exact identity; the per-source
    * grain keeps the surviving row's source deterministic even when a
    * fingerprint repeats across sources, where a global dedup would
    * award the survivor by arrival order). Per-source pass/fail counts
    * aggregate in complete mode. All gate logic is the same scan-stage
    * column expressions the batch operators use — the pipeline ops
    * compose with Structured Streaming unchanged.
    *
    * State-growth caveat (deliberate): BOTH stores here grow with the
    * distinct-key count — the watermark-free dropDuplicates keeps one
    * entry per distinct (source, fp) forever, and complete mode keeps
    * every group. That is correct for this finite-replay oracle, where
    * the gate must be exact identity over all time; a continuous
    * deployment bounds the dedup state with
    * `dropDuplicatesWithinWatermark` (the s03 shape — near-horizon
    * re-ingestion then readmits a duplicate) and emits per-batch deltas
    * in update mode instead of a complete-mode table;
    * StreamingSourcesSpec "bounded-state curation" demonstrates exactly
    * that variant on this corpus and pins bounded == exact inside the
    * horizon.
    */
  private val streamCuration = Q(
    "s16_stream_curation",
    "streaming document curation: quality gate + exact dedup, per source",
    (s, dir) => runToTable(Frames.s16(s, dir), "complete").orderBy("source"),
    Some("""WITH distinct_docs AS (
              SELECT source, text,
                row_number() OVER (PARTITION BY source,
                  substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))),
                    1, 16) ORDER BY doc_id) AS rn
              FROM documents)
            SELECT source, COUNT(*) AS n_distinct,
              COUNT(CASE WHEN len(string_split(nt, ' ')) >= 25
                AND (length(nt) - length(regexp_replace(nt,
                      '[^a-zA-Z0-9 ]', '', 'g'))) / CAST(length(nt) AS DOUBLE) < 0.2
                AND (length(nt) - length(regexp_replace(nt,
                      '[0-9]', '', 'g'))) / CAST(length(nt) AS DOUBLE) < 0.3
                THEN 1 END) AS n_pass
            FROM (SELECT source,
                    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
                  FROM distinct_docs WHERE rn = 1)
            GROUP BY source ORDER BY source"""))

  /** Exactly-once across restart, driver-oracled: the stream consumes
    * only the first half of the input files, stops, and a NEW query
    * restarts from the SAME checkpoint — with the phase-1 files DELETED
    * from the source directory. The final complete-mode table equals the
    * one-shot batch aggregate over ALL the data iff the aggregation
    * state genuinely restored from the checkpoint (a query that ignored
    * the checkpoint would see only the phase-2 files and come up short;
    * one that re-read everything can't, because the phase-1 files are
    * gone). Memory-sink recovery is legal exactly in complete mode,
    * which is why the aggregate runs complete. The same contract at the
    * spec level (replayed batches, offset log) is StreamingSourcesSpec;
    * this entry puts it under the driver's hash gate.
    */
  private val streamCheckpointRecovery = Q(
    "s17_stream_checkpoint_recovery",
    "stop mid-stream, restart from checkpoint == one-shot batch aggregate",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_s17_").toFile
      base.deleteOnExit()
      val stage = new java.io.File(base, "stage")
      val in = new java.io.File(base, "in"); in.mkdirs()
      val ckpt = new java.io.File(base, "ckpt")
      // stage the events as 4 parquet part files; phase 1 exposes 2
      Tables(s, dir).events.select(col("event_type"), col("value"))
        .repartition(4)
        .write.mode("overwrite").parquet(stage.getAbsolutePath)
      val parts = stage.listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val (phase1, phase2) = parts.splitAt(2)
      def copyIn(fs: Array[java.io.File]): Unit = fs.foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(in, f.getName).toPath)
      }
      def runPhase(): org.apache.spark.sql.DataFrame = runToTable(
        s.readStream
          .schema("event_type STRING, value DOUBLE")
          .parquet(in.getAbsolutePath)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
        "complete",
        checkpointLocation = Some(ckpt.getAbsolutePath))
      // the memory-sink table is driver-resident (independent of the
      // files), so the staged parquet and checkpoint are dead weight
      // once the restart finished — and the bench warm-up replays this
      // query every run, so clean up in a finally (a failed phase must
      // not leak a temp tree holding a full events copy: deleteOnExit
      // is a no-op on non-empty directories)
      def rmTree(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmTree))
        f.delete(); ()
      }
      try {
        copyIn(phase1)
        runPhase() // consumes phase-1 files, commits offsets + state, stops
        phase1.foreach(f => new java.io.File(in, f.getName).delete())
        copyIn(phase2)
        runPhase().orderBy("event_type") // phase-2 files + restored state
      } finally rmTree(base)
    },
    Some(s"""SELECT event_type, COUNT(*) AS n, ${oSum("value")} AS sum_value
             FROM events GROUP BY event_type ORDER BY event_type"""))

  /** THREE-WAY chained stream-stream join — the view→click→purchase
    * funnel: two stateful join operators in one continuous query
    * (Spark's multiple-stateful-operator support, like s10's chained
    * aggs but for joins). Each stage's time-range predicate plus the
    * per-input watermarks bound both join states; inner joins emit
    * eagerly on match, so the finite replay's emitted set equals the
    * relational three-way time-range join.
    */
  private val streamThreeWayJoin = Q(
    "s18_stream_three_way_join",
    "chained stream-stream joins: view -> click -> purchase funnel (12h windows)",
    (s, dir) =>
      runToTable(Frames.s18(s, dir), "append")
        .orderBy("view_id", "click_id", "purchase_id"),
    Some("""SELECT v.event_id AS view_id, c.event_id AS click_id,
              p.event_id AS purchase_id, v.user_id
            FROM (SELECT * FROM events WHERE event_type = 'view') v
            JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON c.user_id = v.user_id AND c.ts >= v.ts
                 AND c.ts <= v.ts + INTERVAL 12 HOUR
            JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
              ON p.user_id = v.user_id AND p.ts >= c.ts
                 AND p.ts <= c.ts + INTERVAL 12 HOUR
            ORDER BY view_id, click_id, purchase_id"""))

  /** The batch-model → streaming-apply production shape: a DSIR
    * importance model is trained ONCE on the static corpus (the
    * vocab-sized model map plus one threshold scalar — the min score
    * of the kept top-fraction, the whole model state), then a
    * STREAMING corpus is scored against it with the very same
    * [[graft.operators.Sampling.dsirScoreModel]] the batch path uses —
    * one stateless per-row [[graft.expressions.DsirGramScore]]
    * projection, so the streaming side holds ZERO state (the r16 form
    * exploded grams, broadcast-joined the model table, and kept one
    * aggregation state row per doc_id in update mode — the r17 DSIR
    * collapse removed all three). Selection in-stream is necessarily
    * threshold-based (a global rank needs the whole corpus; a
    * threshold is local), which is exactly how a continuous pipeline
    * applies an offline-trained selector. Docs whose score TIES the
    * threshold beyond the batch top-k are kept — the documented
    * semantic difference from n59's rank rule, mirrored in the oracle.
    */
  private val streamImportanceGate = Q(
    "s19_stream_importance_gate",
    "batch-trained DSIR importance model gating a streaming corpus",
    (s, dir) => runToTable(Frames.s19(s, dir), "update").orderBy("doc_id"),
    Some(s"""${NorthStar4.dsirCtes},
            r AS (
              SELECT doc_id, score_ppm,
                row_number() OVER (ORDER BY score_ppm DESC, doc_id) AS rn
              FROM sc),
            thr AS (
              SELECT MIN(score_ppm) AS t FROM r, n
              WHERE rn <= CEIL(0.25 * CAST(n_docs AS DOUBLE)))
            SELECT doc_id, score_ppm FROM sc, thr
            WHERE score_ppm >= t ORDER BY doc_id"""))

  /** Streaming NEAR-dedup — s16's exact-fingerprint gate upgraded to
    * MinHash+LSH, completing the batch→streaming matrix for the dedup
    * family the way s19 did for DSIR: each micro-batch's documents are
    * admitted iff they near-duplicate neither the previously ADMITTED
    * corpus nor a lower-doc_id document of their own batch, and every
    * admitted document's LSH bands join a standing bucket index that
    * the next batch probes (the n37 left-anti ingest shape, upgraded
    * from exact fingerprints to banded signatures + exact-Jaccard
    * verify). The admission rule is deliberately the candidate-
    * pessimistic one — a doc is rejected on a verified pair with ANY
    * lower-id batch-mate, admitted or not — because near-dup is not
    * transitive and the sequential-greedy alternative needs an
    * unbounded within-batch chain no set-oriented plan (or oracle)
    * expresses; lowest-id-wins matches the dedup family's convention.
    *
    * Engine-portable end to end: [[graft.operators.Dedup.portableShingles]]
    * + [[graft.operators.Dedup.portableMinHashBands]] (md5 hash family,
    * string-min components, 8 bands × 2 rows) and the exact-Jaccard
    * verify are replayed by the oracle's CTEs bit-for-bit, with the
    * three arrival batches pinned as doc_id % 3 (slices staged as
    * files, one processAllAvailable per slice).
    *
    * Scale shape: per batch, signature work is scan-stage over the
    * batch only; the index probe is an equi-join on (band_id,
    * band_key) against a standing table BUCKETED by band_key (r18 —
    * `bucket=<hash(band_key)%B>/` parquet layout, probe reads only the
    * batch's own buckets), and the shingle verify reads only the
    * candidate ids' buckets of a doc_id-bucketed shingle state;
    * verification joins shingle sets for CANDIDATES only. Probe I/O is
    * batch-bounded, not index-bounded (the
    * stream_dedup_index_bucketed ScaleProbe row pins the growth), and
    * nothing driver-side ever holds corpus state (the bucket-set
    * collects are bounded by the bucket count).
    */
  private val streamNearDedup = Q(
    "s20_stream_near_dedup",
    "streaming MinHash+LSH near-dedup: per-batch admission vs an incremental band index",
    (s, dir) => {
      val D = graft.operators.Dedup
      val base = java.nio.file.Files.createTempDirectory("graft_s20_").toFile
      base.deleteOnExit()
      def sub(n: String) = new java.io.File(base, n)
      val in = sub("in"); in.mkdirs()
      val stage = sub("stage")
      val idxDir = sub("index").getAbsolutePath
      val shDir = sub("shingles").getAbsolutePath
      val outDir = sub("out").getAbsolutePath
      def rmTree(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmTree))
        f.delete(); ()
      }
      GraftSession.withConf(s, "spark.sql.shuffle.partitions", "8") {
        try {
          val docs = Tables(s, dir).documents
          // deterministic arrival slices: batch k = doc_id ≡ k (mod 3),
          // staged in one corpus pass (admission is set-oriented per
          // batch, so within-slice row order is free)
          stageSlices(docs, pmod(col("doc_id"), lit(3)), stage)
          // the shingle state starts empty WITH the right schema; the
          // band index needs no anchor write since r18 — it is hash-
          // BUCKETED by band_key (r17 verdict task 1; layout
          // bucket=<hash(band_key)%B>/, appended per admitted batch),
          // and the per-batch probe reads only the bucket dirs the
          // batch's own band keys hash into, with this empty frame as
          // the no-buckets-yet schema
          val none = docs.filter(lit(false))
          D.portableShingles(none).write.parquet(shDir)
          val emptyBands = D.portableMinHashBands(D.portableShingles(none))
          val admit = (batchRaw: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) => {
            val batch = batchRaw.persist()
            val shN = D.portableShingles(batch).persist()
            // r16: bands ride the native per-row signature (no shingle
            // explode / (doc, i) agg per micro-batch) — byte-identical
            // band keys, so they append into the same standing index
            val bandsN = D.portableMinHashBandsFromDocs(batch).persist()
            try {
              // per-batch admission through Frames.s20Admission — the
              // SAME builder the PlanQualitySpec streaming sweep audits,
              // so the audited lineage IS the executed lineage
              // bucket-pruned index probe — admission is UNCHANGED (the
              // prune only removes index rows whose band_key equals no
              // batch key): the index read is bounded by the batch's own
              // band keys times per-bucket size, not by the index size.
              // The shingle state stays a flat read: its consumer is
              // already candidate-semi-filtered before aggregating, and
              // pruning its SCAN needs the candidate ids — a second
              // probe job per batch that r18 measured at +123% sweep
              // time at sf0.1 (OPTIMIZATION_r18.md) for a read the
              // admission bounds anyway
              val idxProbed = D.readProbedBuckets(s, idxDir,
                bandsN.select(col("band_key")), emptyBands)
              val (_, _, _, admitted) = Frames.s20Admission(batch, shN,
                bandsN, idxProbed, s.read.parquet(shDir))
              admitted
                .select(pmod(col("doc_id"), lit(3)).cast("int").as("batch_no"),
                  col("doc_id"))
                .write.mode("append").parquet(outDir)
              // re-read the admission verdict from the output (breaks the
              // lineage back onto the state dirs we are about to append to)
              val admIds = s.read.parquet(outDir)
                .join(batch.select(col("doc_id")), Seq("doc_id"), "left_semi")
                .select(col("doc_id"))
              shN.join(admIds, Seq("doc_id"), "left_semi")
                .write.mode("append").parquet(shDir)
              D.appendBucketed(
                bandsN.join(admIds, Seq("doc_id"), "left_semi"), idxDir,
                "band_key")
            } finally {
              bandsN.unpersist(); shN.unpersist(); batch.unpersist(); ()
            }
          }
          val q = s.readStream
            .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
            .parquet(in.getAbsolutePath)
            .writeStream
            .option("checkpointLocation", sub("ckpt").getAbsolutePath)
            .foreachBatch(admit)
            .start()
          try {
            (0 to 2).foreach { k =>
              feedSlice(stage, in, k)
              q.processAllAvailable()
            }
          } finally q.stop()
          s.read.parquet(outDir).orderBy("doc_id").localCheckpoint()
        } finally {
          // localCheckpoint has materialized the result, so the staged
          // input + state trees are safe to drop — and dropping them in
          // the finally (the s22 fix, applied to its sibling) means a
          // failed run doesn't leak a temp tree holding corpus copies
          rmTree(base)
        }
      }
    },
    Some("""WITH d AS (
              SELECT doc_id, CAST(doc_id % 3 AS INT) AS batch_no,
                string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                  ' ') AS ts
              FROM documents),
            sh AS (
              SELECT DISTINCT doc_id, batch_no,
                array_to_string(ts[(i+1):(i+3)], ' ') AS s
              FROM (SELECT doc_id, batch_no, ts, unnest(range(len(ts) - 2)) AS i
                    FROM d WHERE len(ts) >= 3)),
            mh AS (
              SELECT doc_id, batch_no, i,
                MIN(substr(md5(CAST(i AS VARCHAR) || '|' || s), 1, 15)) AS mh
              FROM (SELECT doc_id, batch_no, s, unnest(range(16)) AS i FROM sh)
              GROUP BY doc_id, batch_no, i),
            bands AS (
              SELECT doc_id, batch_no, i // 2 AS band_id,
                string_agg(mh, '-' ORDER BY i) AS band_key
              FROM mh GROUP BY doc_id, batch_no, i // 2),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                a.batch_no AS ba, b.batch_no AS bb
              FROM bands a JOIN bands b
                ON a.band_id = b.band_id AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id),
            ss AS (SELECT doc_id, list(s) AS ls FROM sh GROUP BY doc_id),
            jac AS (
              SELECT c.id_a, c.id_b, c.ba, c.bb
              FROM cand c JOIN ss sa ON sa.doc_id = c.id_a
                          JOIN ss sb ON sb.doc_id = c.id_b
              WHERE CAST(len(list_filter(sa.ls, x -> list_contains(sb.ls, x))) AS DOUBLE)
                    / (len(sa.ls) + len(sb.ls)
                       - len(list_filter(sa.ls, x -> list_contains(sb.ls, x)))) >= 0.5),
            dup AS (
              SELECT id_a AS x, id_b AS y, ba AS bx FROM jac
              UNION ALL
              SELECT id_b, id_a, bb FROM jac),
            adm0 AS (
              SELECT doc_id FROM d WHERE batch_no = 0 AND NOT EXISTS (
                SELECT 1 FROM dup WHERE dup.y = d.doc_id AND dup.bx = 0
                  AND dup.x < d.doc_id)),
            adm1 AS (
              SELECT doc_id FROM d WHERE batch_no = 1
                AND NOT EXISTS (
                  SELECT 1 FROM dup WHERE dup.y = d.doc_id AND dup.bx = 1
                    AND dup.x < d.doc_id)
                AND NOT EXISTS (
                  SELECT 1 FROM dup JOIN adm0 ON adm0.doc_id = dup.x
                  WHERE dup.y = d.doc_id)),
            adm2 AS (
              SELECT doc_id FROM d WHERE batch_no = 2
                AND NOT EXISTS (
                  SELECT 1 FROM dup WHERE dup.y = d.doc_id AND dup.bx = 2
                    AND dup.x < d.doc_id)
                AND NOT EXISTS (
                  SELECT 1 FROM dup JOIN adm0 ON adm0.doc_id = dup.x
                  WHERE dup.y = d.doc_id)
                AND NOT EXISTS (
                  SELECT 1 FROM dup JOIN adm1 ON adm1.doc_id = dup.x
                  WHERE dup.y = d.doc_id))
            SELECT CAST(doc_id % 3 AS INT) AS batch_no, doc_id FROM adm0
            UNION ALL SELECT CAST(doc_id % 3 AS INT), doc_id FROM adm1
            UNION ALL SELECT CAST(doc_id % 3 AS INT), doc_id FROM adm2
            ORDER BY doc_id"""))

  /** Batch-trained QUALITY model gating a streaming corpus — the s19
    * shape for the n68 discriminative classifier: [[graft.operators.QualityModel.trainModel]]
    * runs once on the static corpus (the whole model is 64 weights +
    * bias — broadcastable by construction), then the STREAMING corpus
    * is scored by [[graft.operators.QualityModel.scoreWith]] — the
    * identical token-level margin arithmetic, as ONE stateless
    * per-row native expression (r16: the margin needs no aggregation
    * at all — [[graft.expressions.TokenBucketMargin]] — so the
    * streaming query keeps NO state; the r15 form held one state row
    * per doc). In-stream selection is
    * threshold-based with the threshold derived OFFLINE from the batch
    * scores (min score of the kept top fraction — s19's rule: a global
    * rank needs the whole corpus, a threshold is local, and docs tying
    * the threshold beyond the batch top-k are kept). The raw 0.5
    * decision boundary would be vacuous here — a 25%-positive prior
    * drags the bias negative, so three GD steps leave every absolute
    * score below 0.5 even though the RANKING separates cleanly.
    *
    * No state caveat since r16: the per-row margin expression keeps
    * zero streaming state (each doc row scores and emits once) — the
    * s16/s19 finite-replay contract no longer applies to this query.
    */
  private val streamQualityGate = Q(
    "s21_stream_quality_gate",
    "batch-trained quality classifier gating a streaming corpus",
    // offline train + top-quarter threshold over one shared feature
    // scan (min score of the kept top frac; ties ranked by doc_id —
    // the min over the top-k set is order-free) — see Frames.s21
    (s, dir) => runToTable(Frames.s21(s, dir), "update").orderBy("doc_id"),
    Some(s"""${NorthStar4.qcCtes},
            sc AS (
              SELECT doc_id,
                0.5 + (0.5 * m) / (1.0 + abs(m)) AS score
              FROM m4),
            r AS (
              SELECT doc_id, score,
                row_number() OVER (ORDER BY score DESC, doc_id) AS rn
              FROM sc),
            thr AS (
              SELECT MIN(score) AS t FROM r, nd
              WHERE rn <= CEIL(0.25 * nd))
            SELECT doc_id, score FROM sc, thr
            WHERE score >= t ORDER BY doc_id"""))

  /** Streaming CDC merge — the incremental form of n69, the way a
    * continuously-refreshed corpus actually applies its change feed:
    * each micro-batch of changeset rows merges against the CURRENT
    * file-backed snapshot (read → [[graft.operators.Snapshot.applyChangeset]]
    * → write the next version; state lives in files, not the driver —
    * the s20 standing-index contract), and the materialized result is
    * the FINAL snapshot classified against the original base. The
    * change ids are disjoint across the three doc_id%3 arrival slices,
    * so the incremental application must converge to n69's one-shot
    * relational merge — the shared oracle IS that equality statement
    * (the s17 restart-equals-batch pattern, applied to table
    * maintenance).
    *
    * Scale shape: per batch, one co-partitioned join of snapshot ×
    * changeset (changeset side broadcasts); the snapshot rewrite is
    * the full-copy cost any format-less merge pays — a production
    * deployment swaps the write for a Delta/Iceberg MERGE or
    * partitions the snapshot so only touched partitions rewrite, and
    * the ping-pong versioned-directory scheme here is exactly the
    * copy-on-write table-version mechanism those formats implement.
    */
  private val streamSnapshotMerge = Q(
    "s22_stream_snapshot_merge",
    "streaming CDC merge: per-batch snapshot versions converge to the one-shot merge",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_s22_").toFile
      base.deleteOnExit()
      def sub(n: String) = new java.io.File(base, n)
      val in = sub("in"); in.mkdirs()
      val stage = sub("stage")
      def snapDir(v: Int) = new java.io.File(base, s"snap$v").getAbsolutePath
      def rmTree(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmTree))
        f.delete(); ()
      }
      GraftSession.withConf(s, "spark.sql.shuffle.partitions", "8") {
        try {
          val docs = Tables(s, dir).documents
          val baseSnap = docs.select(col("doc_id"), col("text"))
          baseSnap.write.parquet(snapDir(0))
          // deterministic arrival slices of the n69 changeset, staged in
          // one pass (changeset application is keyed per batch, so
          // within-slice row order is free)
          val changes = NorthStar4.mergeChangeset(docs)
          stageSlices(changes, pmod(col("doc_id"), lit(3)), stage)
          var version = 0
          val apply = (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) => {
            if (!batch.isEmpty) {
              val cur = s.read.parquet(snapDir(version))
              // Frames.s22Apply is the SAME builder the plan audit
              // checks, so audit and execution cannot drift
              Frames.s22Apply(cur, batch)
                .write.parquet(snapDir(version + 1))
              version += 1
            }
          }
          val q = s.readStream
            .schema("doc_id LONG, op STRING, text STRING")
            .parquet(in.getAbsolutePath)
            .writeStream
            .option("checkpointLocation", sub("ckpt").getAbsolutePath)
            .foreachBatch(apply)
            .start()
          try {
            (0 to 2).foreach { k =>
              feedSlice(stage, in, k)
              q.processAllAvailable()
            }
          } finally q.stop()
          // final snapshot classified against the original base — for
          // this changeset (upserts always change the text) the diff
          // labels coincide with n69's per-op provenance, which is what
          // lets both queries share one oracle
          val fin = s.read.parquet(snapDir(version))
          val res = Frames.s22Classify(fin, baseSnap)
            .orderBy("doc_id")
            .localCheckpoint()
          res
        } finally {
          // localCheckpoint has materialized the result, so the snapshot
          // tree is safe to drop — and dropping it HERE (not after the
          // try) means failed runs don't accumulate tmp copies
          rmTree(base)
        }
      }
    },
    Some(NorthStar4.mergeOracleSql))

  /** Batch-trained mixture → streaming realization: DoReMi weights are
    * learned ONCE on the static corpus (n70's trainer), reduced against
    * the actual source sizes to a D-row integer per-mille rate table —
    * the whole model artifact, collected to bounded driver state like
    * s19's threshold — and every streaming document is replicated or
    * thinned by [[graft.operators.Mixture.applyRates]]' systematic
    * `id % 1000` spread. The apply side is STATELESS (scan arithmetic +
    * a broadcast stream-static join + a copy explode), so it runs in
    * append mode with no state store at all — of the batch→streaming
    * production gates (s19 threshold, s21 classifier, s20 index) this
    * is the cheapest possible shape: a continuous pipeline realizes a
    * trained mixture at full scan speed.
    *
    * The oracle replays the entire chain — the three reweighting
    * rounds, the micro-unit rate reduction, and the per-document copy
    * realization — so the emitted copy set is hash-exact, not just
    * counted.
    */
  private val streamMixtureRealize = Q(
    "s23_stream_mixture_realize",
    "batch-trained DoReMi mixture weights realized on a streaming corpus (stateless)",
    // the D-row model artifact is driver-materialized (bounded) in
    // Frames.s23 so the streaming plan never re-derives it per batch
    (s, dir) =>
      runToTable(Frames.s23(s, dir), "append").orderBy("doc_id", "copy_idx"),
    Some(s"""${NorthStar5.doremiCtes},
            cs AS (SELECT source, COUNT(*) AS c_s FROM documents GROUP BY source),
            rt AS (
              SELECT source, (1000 * 400 * s_s) // (1000000 * c_s) AS per_mille
              FROM (SELECT source, CAST(FLOOR(a * 1000000.0) AS BIGINT) AS s_s,
                      c_s
                    FROM a3 JOIN cs USING (source))),
            e AS (
              SELECT doc_id, source, per_mille,
                per_mille // 1000 +
                  CASE WHEN doc_id % 1000 < per_mille % 1000
                       THEN 1 ELSE 0 END AS nn
              FROM documents JOIN rt USING (source))
            SELECT doc_id, source, per_mille, CAST(u AS BIGINT) AS copy_idx
            FROM (SELECT doc_id, source, per_mille, unnest(range(nn)) AS u
                  FROM e WHERE nn > 0)
            ORDER BY doc_id, copy_idx"""))

  /** Streaming embedding-space decontamination — n71's batch→streaming
    * completion, and like s23 a fully STATELESS gate: the corpus
    * arrives as a stream of vectors, each is sign-bucketed in the scan
    * stage, probed against the broadcast (eval × 9-probe) table, and
    * exact-cosine verified — no aggregation, no state store, append
    * mode at full scan speed. This is how a continuous ingest pipeline
    * actually screens new shards against a frozen eval suite: the eval
    * side is the offline model artifact (here a static frame; its
    * bucketing runs per micro-batch against a D-row table — a
    * production deployment would materialize the probe table once).
    * The oracle is n71's verbatim — the streaming run must converge to
    * the identical flagged set.
    */
  private val streamEmbedDecontam = Q(
    "s24_stream_embedding_decontam",
    "streaming embedding decontamination vs a static eval set (stateless)",
    (s, dir) =>
      runToTable(Frames.s24(s, dir), "append").orderBy("vec_id", "eval_id"),
    Some(NorthStar5.embedDecontamOracleSql))

  /** Streaming per-source token-budget admission — the QUOTA member of
    * the stateful family (running agg s09, sessionization s07/s14,
    * dedup s03): a cumulative per-source token count decides admission
    * for every incoming document, the production shape for "cap each
    * source's contribution while the corpus streams in". Unlike the
    * stateless gates (s19/s21/s23/s24), the verdict depends on
    * everything the key has already admitted — genuinely stateful, yet
    * the state is ONE long per source.
    *
    * Equality with the batch window ([[graft.operators.Sampling
    * .capSourceTokens]]'s shape at budget 2000) needs arrival order =
    * doc_id order per source, which the staging guarantees with
    * CONTIGUOUS id-range batches (batch k = ids in [k·cut, (k+1)·cut));
    * within a batch [[graft.streaming.StatefulOps.tokenQuota]] sorts
    * the group's slice. The oracle is the plain batch window — the
    * streaming run must converge to it bit-for-bit across 3 real
    * micro-batches of carried state.
    *
    * Scale shape: one shuffle per batch on source (the state key), one
    * long of state per source, no watermark (the quota spans all
    * time), output in append mode — each document emits exactly once.
    */
  private val streamSourceQuota = Q(
    "s25_stream_source_quota",
    "streaming per-source token quota: one-long-per-key stateful admission == batch window",
    (s, dir) => {
      import s.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft_s25_").toFile
      base.deleteOnExit()
      def sub(n: String) = new java.io.File(base, n)
      val in = sub("in"); in.mkdirs()
      val stage = sub("stage")
      def rmTree(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmTree))
        f.delete(); ()
      }
      GraftSession.withConf(s, "spark.sql.shuffle.partitions", "8") {
        try {
          val docs = Tables(s, dir).documents
          // contiguous id-range arrival slices: per-source arrival order
          // is doc_id order — the order the oracle's window sums in
          val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
          val cut = maxId / 3 + 1
          // one staging pass; slice k = doc_id div cut — the old range
          // filter solved for k (the quota handler sorts by id in-batch,
          // so within-slice row order is free)
          stageSlices(docs, expr(s"doc_id div ${cut}L"), stage)
          val out = Frames.s25Quota(s, s.readStream
            .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
            .option("pathGlobFilter", "*.parquet")
            .parquet(in.getAbsolutePath))
          val qn = s"graft_stream_${counter.incrementAndGet()}"
          val q = out.writeStream.outputMode("append")
            .format("memory").queryName(qn)
            .option("checkpointLocation", sub("ckpt").getAbsolutePath)
            .start()
          try {
            (0 to 2).foreach { k =>
              feedSlice(stage, in, k)
              q.processAllAvailable()
            }
          } finally q.stop()
          s.table(qn).orderBy("doc_id").localCheckpoint()
        } finally {
          rmTree(base)
        }
      }
    },
    Some("""SELECT doc_id, source, n_tokens, start_off,
              start_off < 2000 AS kept
            FROM (
              SELECT doc_id, source, n_tokens,
                CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
                  ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS start_off
              FROM (SELECT doc_id, source,
                      CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
                    FROM documents))
            ORDER BY doc_id"""))

  /** Streaming SFT admission — the chat-template loss-mask accounting
    * ([[graft.operators.Objectives.sftGate]]) applied to a document
    * stream: every incoming conversation is admitted only if at least
    * a third of its rendered tokens carry loss. Like s23/s24 a fully
    * STATELESS gate — the per-example trainable mass is a closed-form
    * scan expression (a bounded fold over ≤6 turn indices), no
    * explode, no aggregation, no state store, append mode at scan
    * speed. The oracle is the batch replay verbatim — the streaming
    * run must converge to the identical admission frame.
    */
  private val streamSftGate = Q(
    "s26_stream_sft_gate",
    "streaming SFT admission: trainable-token share of the chat rendering (stateless)",
    (s, dir) => runToTable(Frames.s26(s, dir), "append").orderBy("doc_id"),
    Some(NorthStar6.sftGateOracleSql))

  /** Streaming reward-model admission — the RLHF-side member of the
    * batch-train→stream-apply family (s19 DSIR threshold, s21 trained
    * classifier, s23 rate table, s24 probe table): the Bradley–Terry
    * reward weights are trained OFFLINE on the static preference pairs
    * ([[graft.operators.Preference.btTrain]]), broadcast as 64
    * literals, and every streamed document is scored by ONE
    * aggregation (token-level weight terms — streaming-legal) and
    * admitted when its reward is positive. Update mode, one state row
    * per doc; the oracle replays train + score end to end.
    *
    * Finite-replay caveat (the s19/s21 contract, stated for the
    * post-aggregation filter specifically): `filter(score > 0)` runs
    * on each UPDATE-mode emission, so if one document's tokens ever
    * arrived across micro-batches, a row emitted while the partial
    * score was positive would stay in the memory sink even if the
    * final score fell to ≤ 0. Here each document's tokens live in one
    * source file (grams never span files), so every doc scores in
    * exactly one micro-batch and the sink holds only final verdicts;
    * a continuous deployment gates in foreachBatch or dedups the sink
    * by doc_id taking the last update.
    */
  private val streamRewardGate = Q(
    "s27_stream_reward_gate",
    "batch-trained Bradley-Terry reward model gating a streaming corpus",
    (s, dir) => runToTable(Frames.s27(s, dir), "update").orderBy("doc_id"),
    Some(s"""${NorthStar6.btCtes},
            ${NorthStar6.btScoreCte}
            SELECT doc_id, score FROM sc
            WHERE score > 0.0 ORDER BY doc_id"""))

  /** Streaming OOV-rate monitor — the tokenizer-drift alarm on
    * continuous ingest: the vocabulary is fitted OFFLINE on the static
    * corpus ([[graft.operators.TextAnalysis.fitVocab]] — the fixed-k
    * trained artifact), broadcast, and each source's cumulative
    * in/out-of-vocabulary token counts aggregate as the corpus streams
    * in (ONE aggregation, update mode, one state row per source). A
    * feed whose OOV share climbs is drifting away from what the
    * tokenizer was trained on — caught at ingest, not at training.
    * The oracle is the batch per-source replay the stream must
    * converge to.
    */
  private val streamOovMonitor = Q(
    "s28_stream_oov_monitor",
    "streaming per-source OOV-rate monitor under a batch-fitted vocabulary",
    (s, dir) => runToTable(Frames.s28(s, dir), "update").orderBy("source"),
    Some("""WITH t AS (
              SELECT source, unnest(string_split(text, ' ')) AS term
              FROM documents),
            v AS (
              SELECT term FROM (
                SELECT term, count(*) AS cnt FROM t GROUP BY term) c
              ORDER BY cnt DESC, term LIMIT 64)
            SELECT source, count(*) AS n_terms,
              count(*) FILTER (WHERE v.term IS NULL) AS n_oov,
              CAST(count(*) FILTER (WHERE v.term IS NULL) AS DOUBLE)
                / count(*) AS oov_rate
            FROM t LEFT JOIN v USING (term)
            GROUP BY source ORDER BY source"""))

  /** Streaming distribution-drift monitor — the χ² companion of the
    * batch rank-sum audit (n88), built streaming-legal: the baseline
    * per-(type, bucket) counts are a FROZEN offline artifact
    * (broadcast), every incoming event joins its expected count
    * BEFORE the single aggregation (stream-static join + one agg,
    * update mode, one state row per bucket), and the per-bucket χ²
    * contribution is a stateless projection. A bucket the baseline
    * never saw emits NULL — the new-bucket alarm. The oracle is the
    * batch replay over the same even/odd event split.
    */
  private val streamDriftMonitor = Q(
    "s29_stream_drift_monitor",
    "streaming chi-square drift monitor vs a frozen baseline histogram",
    (s, dir) =>
      runToTable(Frames.s29(s, dir), "update").orderBy("event_type", "bucket"),
    Some("""WITH b AS (
              SELECT event_type, CAST(FLOOR(value) AS BIGINT) AS bucket,
                COUNT(*) AS expected
              FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2)
            SELECT event_type, bucket, observed, expected,
              CAST(observed - expected AS DOUBLE)
                * CAST(observed - expected AS DOUBLE)
                / CAST(expected AS DOUBLE) AS contrib
            FROM (
              SELECT e.event_type,
                CAST(FLOOR(value) AS BIGINT) AS bucket,
                COUNT(*) AS observed, b.expected AS expected
              FROM events e LEFT JOIN b ON b.event_type = e.event_type
                AND b.bucket = CAST(FLOOR(value) AS BIGINT)
              WHERE event_id % 2 = 1
              GROUP BY 1, 2, 4)
            ORDER BY event_type, bucket"""))

  /** Streaming clip monitor — the apply side of the n96 winsorization
    * bounds, the third member of the frozen-artifact monitor family
    * (s28 vocabulary, s29 baseline histogram, s30 clip bounds): the
    * bounds are fitted offline on the batch corpus, broadcast, and the
    * stream accumulates per-key seen/below/above counts in update mode
    * (one state row per key). The oracle is the batch replay the
    * stream must converge to.
    */
  private val streamClipMonitor = Q(
    "s30_stream_clip_monitor",
    "streaming winsorization-clip monitor under batch-fitted bounds",
    (s, dir) => runToTable(Frames.s30(s, dir), "update").orderBy("event_type"),
    Some("""WITH r AS (
              SELECT event_type, value AS v,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY value) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM events),
            b AS (
              SELECT event_type,
                MIN(CASE WHEN rn = GREATEST(1, (n * 1 + 99) // 100)
                    THEN v END) AS lo_bound,
                MIN(CASE WHEN rn = (n * 99 + 99) // 100
                    THEN v END) AS hi_bound
              FROM r GROUP BY event_type, n)
            SELECT e.event_type, lo_bound, hi_bound,
              COUNT(*) AS n_seen,
              CAST(SUM(CASE WHEN value < lo_bound THEN 1 ELSE 0 END)
                AS BIGINT) AS n_below,
              CAST(SUM(CASE WHEN value > hi_bound THEN 1 ELSE 0 END)
                AS BIGINT) AS n_above
            FROM events e JOIN b USING (event_type)
            GROUP BY 1, 2, 3 ORDER BY event_type"""))

  /** Streaming CUSUM drift monitor — the ORDER-SENSITIVE member of the
    * monitor family (s28–s30 are order-insensitive converging
    * aggregates; Page's statistic depends on arrival order, so this is
    * the one where "streaming == batch" requires the arrival CONTRACT,
    * not just convergence): events arrive in three contiguous
    * ts-range slices (the s25 staging pattern — cross-slice order is
    * event-time order; within a batch the group handler sorts), the
    * stateful path carries ONE long per key across batches, and the
    * emitted per-event statistic is batch-aggregated into exactly
    * n107's alarm report. The oracle is n107's SQL verbatim — the
    * closed form the sequential recursion must reproduce.
    */
  private val streamCusumMonitor = Q(
    "s31_stream_cusum_monitor",
    "streaming CUSUM drift monitor: one-long-per-key Page statistic over ts-ordered arrival == batch closed form",
    (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_s31_").toFile
      def sub(n: String) = new java.io.File(base, n)
      val in = sub("in"); in.mkdirs()
      val stage = sub("stage")
      def rmTree(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmTree))
        f.delete(); ()
      }
      GraftSession.withConf(s, "spark.sql.shuffle.partitions", "8") {
        try {
          val ev = Tables(s, dir).events
            .select(col("event_id"), col("ts"), col("event_type"),
              col("value"))
          // contiguous ts-range arrival slices: cross-slice arrival
          // order IS event-time order (CUSUM's contract)
          val Array(lo, hi) = ev
            .agg(unix_micros(min(col("ts"))), unix_micros(max(col("ts"))))
            .head().toSeq.map(_.asInstanceOf[Long]).toArray
          val cut = (hi - lo) / 3 + 1
          // one staging pass; slice k = (tsm − lo) div cut — the old
          // range filter solved for k (the CUSUM handler sorts by
          // (tsm, event_id) in-batch, so within-slice row order is free)
          stageSlices(ev,
            expr(s"(unix_micros(ts) - ${lo}L) div ${cut}L"), stage)
          val schema = s.read
            .parquet(new java.io.File(stage, "k=0").getAbsolutePath).schema
          val out = Frames.s31Path(s,
            s.readStream.schema(schema)
              .option("pathGlobFilter", "*.parquet")
              .parquet(in.getAbsolutePath))
          val qn = s"graft_stream_${counter.incrementAndGet()}"
          val q = out.writeStream.outputMode("append")
            .format("memory").queryName(qn)
            .option("checkpointLocation", sub("ckpt").getAbsolutePath)
            .start()
          try {
            (0 to 2).foreach { k =>
              feedSlice(stage, in, k)
              q.processAllAvailable()
            }
          } finally q.stop()
          // batch-aggregate the emitted path into n107's alarm report
          s.table(qn)
            .groupBy("event_type")
            .agg(
              count(lit(1)).as("n_events"),
              sum(when(col("s") > 500000000L, 1L).otherwise(0L))
                .as("n_alarms"),
              timestamp_micros(
                min(when(col("s") > 500000000L, col("tsm"))))
                .as("first_alarm_ts"),
              max(col("s")).as("max_cusum_micro"))
            .orderBy("event_type")
            .localCheckpoint()
        } finally {
          rmTree(base)
        }
      }
    },
    Some(NorthStar7.cusumOracleSql))

  /** Streaming gate-panel agreement monitor — the n109 Fleiss' kappa
    * as continuous ingest QA, fourth member of the one-state-row-
    * per-key monitor family (s28 OOV, s29 χ², s30 clip, s32 panel
    * coherence): the three gate predicates are stateless per-row
    * expressions in the scan, the per-source (n, keep-votes,
    * pair-agreement) sums are ONE update-mode aggregation, and the
    * kappa closed form is a projection over the S-row state. A source
    * whose κ decays mid-ingest means one gate started disagreeing with
    * the panel — a feed defect caught before it lands in the corpus.
    * All carried state is order-insensitive exact integers, so the
    * stream converges to n109's batch output; the ORACLE IS n109's SQL
    * verbatim (one replay definition of the statistic).
    */
  private val streamGatePanel = Q(
    "s32_stream_gate_panel",
    "streaming per-source gate-panel Fleiss' kappa monitor (converges to the n109 batch closed form)",
    (s, dir) => runToTable(Frames.s32(s, dir), "update").orderBy("source"),
    Some(NorthStar7.fleissOracleSql))

  /** Streaming KS drift monitor — the whole-distribution companion of
    * s29's χ² (which needs a frozen baseline and unit bins to mean
    * anything; KS compares the two slices' full ECDFs directly). The
    * stream carries only the (type, bin) → (ca, cb) integer counts —
    * one update-mode aggregation, bounded state — and the Q
    * batch-aggregates that emitted state into n111's report with the
    * SAME `ksFromBinCounts` the batch query composes. Converges to
    * the batch closed form because every carried sum is an
    * order-insensitive exact integer; the ORACLE IS n111's SQL
    * verbatim (one replay definition of the statistic).
    */
  private val streamKsMonitor = Q(
    "s33_stream_ks_monitor",
    "streaming binned two-sample KS drift monitor (converges to the n111 batch closed form)",
    (s, dir) => {
      // An update-mode memory sink APPENDS each batch's updated rows:
      // with >1 micro-batch the table retains stale (type, bin) rows
      // from earlier batches and the cumulative-ECDF window would
      // silently double-count them. The single-file source makes one
      // batch today, but the report half must not depend on trigger
      // slicing — collapse the sink to its FINAL state first: ca/cb
      // are monotone update-mode counts, so max over a (type, bin)
      // group IS the latest emitted value.
      val finalState = runToTable(Frames.s33(s, dir), "update")
        .groupBy("event_type", "bin")
        .agg(max(col("ca")).as("ca"), max(col("cb")).as("cb"))
      graft.operators.Drift
        .ksFromBinCounts(finalState, "event_type")
        .orderBy("event_type")
    },
    Some(NorthStar7.ksOracleSql))

  /** Streaming gate fed by a VERSIONED on-disk model artifact — the
    * s17 recovery pattern applied to MODEL state: the model crosses a
    * disk store between the train phase and the apply phase instead of
    * living in process memory, and the apply side selects the latest
    * version. The gate itself is the s21 shape (stateless scan-stage
    * predicate + ONE update-mode aggregation, one state row per
    * source); the ORACLE recomputes the v2 model and the gated
    * aggregate from the base tables, so writing, versioning, loading,
    * and applying all sit under the hash compare.
    */
  private val streamArtifactGate = Q(
    "s34_stream_artifact_gate",
    "streaming length-floor gate fed by a versioned on-disk model artifact (train v1/v2, load LATEST, apply)",
    (s, dir) => runToTable(Frames.s34(s, dir), "update").orderBy("source"),
    Some("""WITH t AS (
              SELECT source,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
              FROM documents
              WHERE len(string_split(text, ' ')) IS NOT NULL),
            r AS (
              SELECT source, n_tok,
                row_number() OVER (PARTITION BY source
                  ORDER BY n_tok) AS rn,
                COUNT(*) OVER (PARTITION BY source) AS n
              FROM t),
            b AS (
              SELECT source,
                MIN(CASE WHEN rn = GREATEST(1, (n * 25 + 99) // 100)
                    THEN n_tok END) AS thr_tok
              FROM r GROUP BY source, n)
            SELECT t.source, CAST(2 AS INT) AS version, thr_tok,
              CAST(COUNT(*) AS BIGINT) AS n_kept,
              CAST(SUM(n_tok) AS BIGINT) AS tok_kept
            FROM t JOIN b USING (source)
            WHERE n_tok >= thr_tok
            GROUP BY t.source, thr_tok
            ORDER BY source"""))

  /** Streaming Hellinger drift monitor — the mass-overlap companion
    * of s33 over the IDENTICAL streamed state (the s33 `ksBinCounts`
    * update-mode aggregation, one state row per (type, bin)): one
    * stream state definition, two drift statistics batch-derived from
    * it, each sharing its report half with its batch query (n111 /
    * n116). Same final-state collapse as s33 — the report must not
    * depend on trigger slicing. The ORACLE IS n116's SQL verbatim.
    */
  private val streamHellingerMonitor = Q(
    "s35_stream_hellinger_monitor",
    "streaming binned Hellinger drift monitor (converges to the n116 batch closed form)",
    (s, dir) => {
      val finalState = runToTable(Frames.s35(s, dir), "update")
        .groupBy("event_type", "bin")
        .agg(max(col("ca")).as("ca"), max(col("cb")).as("cb"))
      graft.operators.Drift
        .hellingerFromBinCounts(finalState, "event_type")
        .orderBy("event_type")
    },
    Some(NorthStar8.hellingerOracleSql))

  /** Streaming embedding-space drift monitor — the s33/s35 pattern
    * where the scalar monitors are blind: the codebook argmax runs in
    * the scan stage (broadcast fold, stateless), the stream carries
    * numCentroids exact-integer state rows, and the report half is
    * the SAME `occupancyGapReport` the batch n123 composes. Same
    * final-state collapse as s33. The ORACLE IS n123's SQL verbatim.
    */
  private val streamEmbeddingDrift = Q(
    "s36_stream_embedding_drift",
    "streaming embedding-space drift monitor (per-centroid occupancy; converges to the n123 batch closed form)",
    (s, dir) => {
      val finalState = runToTable(Frames.s36(s, dir), "update")
        .groupBy("cent_id")
        .agg(max(col("ca")).as("ca"), max(col("cb")).as("cb"))
      graft.operators.Similarity.occupancyGapReport(finalState)
        .orderBy("cent_id")
    },
    Some(NorthStar8.occupancyOracleSql))

  /** Streaming per-source dup card — the n122 release card as
    * continuous ingest QA: the (source, fingerprint) copy counts are
    * ONE update-mode aggregation (fingerprinting is a stateless scan
    * expression), the card's per-source rollup runs batch over the
    * emitted state with the s33-style final-state collapse (copies
    * are monotone — max per (source, fp) IS the latest value). A
    * source whose dup_ratio climbs mid-ingest is re-sending content —
    * caught before n01's batch dedup pays for it. The ORACLE IS
    * n122's SQL verbatim.
    */
  private val streamDupCard = Q(
    "s37_stream_dup_card",
    "streaming per-source exact-duplication card (converges to the n122 batch closed form)",
    (s, dir) => {
      val finalState = runToTable(Frames.s37(s, dir), "update")
        .groupBy("source", "fp")
        .agg(max(col("copies")).as("copies"))
      finalState.groupBy("source")
        .agg(sum(col("copies")).as("n_docs"),
          count(lit(1)).as("n_distinct"),
          max(col("copies")).as("max_copies"))
        .withColumn("n_dup_docs", col("n_docs") - col("n_distinct"))
        .withColumn("dup_ratio",
          (col("n_docs") - col("n_distinct")).cast("double") /
            col("n_docs").cast("double"))
        .select("source", "n_docs", "n_distinct", "n_dup_docs",
          "max_copies", "dup_ratio")
        .orderBy("source")
    },
    Some(NorthStar8.dupCardOracleSql))

  /** Streaming packing-efficiency monitor — the n129 context-length
    * tuning card maintained over continuous ingest: the per-(source,
    * context length) doc/token/pad-sequence sums are ONE update-mode
    * aggregation of monotone integers (the s33 collapse pattern — max
    * per key over the emitted state IS the latest value), and the
    * derived waste/efficiency columns run batch-side through the SAME
    * report half the n129 query composes. A source whose pad
    * efficiency collapses mid-ingest just started sending much
    * shorter (or much longer) documents than the context length was
    * tuned for — caught while the feed streams, not at the next
    * batch re-tune. The ORACLE IS n129's SQL verbatim.
    */
  private val streamPackingMonitor = Q(
    "s39_stream_packing_monitor",
    "streaming packing-efficiency monitor per (source, context length) (converges to the n129 batch closed form)",
    (s, dir) => {
      val finalState = runToTable(Frames.s39(s, dir), "update")
        .groupBy("source", "context_len")
        .agg(max(col("n_docs")).as("n_docs"),
          max(col("total_tokens")).as("total_tokens"),
          max(col("pad_seqs")).as("pad_seqs"))
      graft.operators.Packing.packingReportFromCounts(finalState)
        .orderBy("source", "context_len")
    },
    Some(NorthStar9.packingOracleSql))

  /** Streaming shadow (champion/challenger) evaluation — n121 at its
    * real operating point: the pinned v1 and latest v2 artifact
    * versions are both loaded from the on-disk store, and LIVE traffic
    * is clip-checked under both in ONE update-mode aggregation whose
    * per-type disagreement counts are the promote/rollback signal —
    * the retrain evaluated on the stream without gating anything.
    * All carried sums are order-insensitive exact integers, so the
    * stream converges to n121's batch output; the ORACLE IS n121's
    * SQL verbatim.
    */
  private val streamShadowEval = Q(
    "s38_stream_shadow_eval",
    "streaming shadow deployment: pinned v1 vs latest v2 artifacts clip-checked on live traffic (converges to n121)",
    (s, dir) => runToTable(Frames.s38(s, dir), "update").orderBy("event_type"),
    Some(NorthStar8.shadowOracleSql))

  /** Streaming prototype-outlier gate — n133's prototype scoring as a
    * continuous ingest screen: an L-row broadcast model, one cosine
    * per row, a stateless filter in append mode (the s19/s21/s24
    * batch-model → streaming-apply family's cheapest member). The
    * oracle replays the same scoring over the whole table through the
    * SHARED [[NorthStar10.protoSimSql]] CTEs, so the streaming gate
    * and the batch pruning card can never drift apart.
    */
  private val streamPrototypeGate = Q(
    "s40_stream_prototype_gate",
    "streaming prototype-outlier gate: broadcast label prototypes flag anti-aligned vectors (stateless, shares n133's scoring)",
    (s, dir) => runToTable(Frames.s40(s, dir), "append").orderBy("vec_id"),
    Some(s"""${NorthStar10.protoSimSql}
            SELECT vec_id, label, proto_sim FROM sc
            WHERE proto_sim < 0.0 ORDER BY vec_id"""))

  /** Streaming tokenizer-fertility monitor — n139 maintained over
    * continuous ingest: one update-mode agg of monotone integer sums
    * per (source, lang) (the s37/s39 collapse — max per key over the
    * emitted state IS the latest value), ratios through the SAME
    * report half the n139 card composes. The ORACLE IS n139's SQL
    * verbatim.
    */
  /** Streaming rendezvous shard router — n138's assignment applied at
    * ingest: stateless append-mode projection; the oracle replays the
    * HRW argmax relationally, so the stream's routing converges
    * bit-for-bit to the batch plan's.
    */
  private val streamShardRouter = Q(
    "s42_stream_shard_router",
    "streaming rendezvous shard router: stateless HRW assignment at ingest (converges to n138's draw)",
    (s, dir) => runToTable(Frames.s42(s, dir), "append").orderBy("doc_id"),
    Some("""WITH sh AS (
              SELECT doc_id, s,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                  || ':shard:' || CAST(s AS VARCHAR)), 1, 8))
                  AS BIGINT) AS draw
              FROM (SELECT doc_id FROM documents) d CROSS JOIN
                (SELECT CAST(unnest(range(9)) AS INT) AS s))
            SELECT doc_id, s AS shard FROM (
              SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
                ORDER BY draw DESC, s DESC) AS rn
              FROM sh) WHERE rn = 1 ORDER BY doc_id"""))

  private val streamAnisotropyMonitor = Q(
    "s43_stream_anisotropy_monitor",
    "streaming embedding-anisotropy monitor (converges to the n143 batch card)",
    (s, dir) => {
      val finalState = runToTable(Frames.s43(s, dir), "update")
        .groupBy("dim")
        .agg(max(col("n")).as("n"),
          max(col("s_pos")).as("s_pos"),
          max(col("s_neg")).as("s_neg"))
      graft.operators.Geometry.anisotropyFromMoments(finalState)
    },
    Some(NorthStar10.anisotropyOracleSql))

  private val streamPassAtK = Q(
    "s44_stream_passk_monitor",
    "streaming pass@k monitor: reward-scored candidates per prompt group (converges to the n154 batch card)",
    (s, dir) => {
      // single-file source → one batch → final per-doc state (the
      // s21/s28 raw-consumer contract); the threshold derives from the
      // streamed scores themselves, so batch and stream read one corpus
      val scores = runToTable(Frames.s44(s, dir), "update")
        .select("doc_id", "score")
      val P = graft.operators.Preference
      P.passAtKFromScores(scores, P.medianThreshold(scores),
          groupSize = 8, ks = Seq(1, 2, 4))
        .orderBy("group_id")
    },
    Some(NorthStar11.passAtKOracleSql))

  /** Streaming strict-order funnel — the reference's most user-visible
    * event-stream report (s06/s10 chain the journey continuously; this
    * prices it corpus-wide) maintained at ingest: the step
    * filter/projection streams stateless in append mode, the exact
    * chained-MIN report runs batch-side over the collapsed sink (the
    * ordering-sensitivity argument for this split lives on
    * [[graft.operators.Funnels.slimSteps]]). The ORACLE IS n152's SQL
    * verbatim.
    */
  private val streamFunnel = Q(
    "s45_stream_funnel",
    "streaming strict-order funnel: stateless step slimming at ingest, exact chained-MIN report batch-side (converges to n152)",
    (s, dir) => graft.operators.Funnels
      .funnelFromSlim(
        runToTable(Frames.s45(s, dir), "append"),
        Seq("view", "click", "purchase"))
      .orderBy("step_idx"),
    Some(NorthStar11.funnelOracleSql))

  /** Streaming OHLC bars — w13's hourly downsampling card as ONE
    * update-mode event-time-window aggregation (fixed-size state per
    * bar); the batch collapse keys each bar to its latest emitted
    * version via the strictly-growing count n. The ORACLE IS w13's
    * SQL verbatim.
    */
  private val streamOhlc = Q(
    "s46_stream_ohlc_bars",
    "streaming hourly OHLC bars per event_type (converges to the w13 batch closed form)",
    (s, dir) => {
      val emitted = runToTable(Frames.s46(s, dir), "update")
      val latest = emitted
        .groupBy("w_start", "event_type")
        .agg(max(struct(col("n"), col("open"), col("high"), col("low"),
          col("close"), col("volume"))).as("st"))
      latest.select(col("w_start"), col("event_type"),
          col("st.open").as("open"), col("st.high").as("high"),
          col("st.low").as("low"), col("st.close").as("close"),
          col("st.n").as("n"), col("st.volume").as("volume"))
        .orderBy("w_start", "event_type")
    },
    Some(TimeWindows.ohlcOracleSql))

  /** Streaming cohort retention — n153's activity matrix maintained
    * over continuous ingest: per-(user, day) activity is ONE
    * update-mode aggregation (fixed one-row state per active
    * user-day; the s37 key-bounded contract), and the cohort
    * assignment + retention matrix run batch-side over the collapsed
    * sink through the SAME
    * [[graft.operators.Funnels.cohortRetentionFromDays]] report half
    * the n153 card composes — a late-arriving earlier day would
    * REGRESS a user's cohort and retract matrix cells, so the
    * order-sensitive half stays batch-side by construction (the s45
    * split, in date form). The ORACLE IS n153's SQL verbatim.
    */
  private val streamCohorts = Q(
    "s47_stream_cohort_retention",
    "streaming cohort retention: per-(user, day) activity state at ingest, cohort matrix batch-side (converges to n153)",
    (s, dir) => graft.operators.Funnels
      .cohortRetentionFromDays(
        // localCheckpoint: the report half self-joins the activity
        // frame, and a memory-sink View leaf cannot deduplicate its
        // references across join sides (no newInstance) — cutting the
        // lineage to an RDD leaf restores the n153 plan shape. The
        // frame is the collapsed state (users × active-days), not the
        // corpus.
        runToTable(Frames.s47(s, dir), "update")
          .select(col("user_id"), col("day")).distinct()
          .localCheckpoint())
      // dates hash as strings across engines (the q15 VARCHAR rule)
      .withColumn("cohort_day",
        date_format(col("cohort_day"), "yyyy-MM-dd"))
      .orderBy("cohort_day", "day_offset"),
    Some(NorthStar11.cohortOracleSql))

  private val streamFertilityMonitor = Q(
    "s41_stream_fertility_monitor",
    "streaming tokenizer-fertility monitor per (source, lang) (converges to the n139 batch closed form)",
    (s, dir) => {
      val finalState = runToTable(Frames.s41(s, dir), "update")
        .groupBy("source", "lang")
        .agg(max(col("n_docs")).as("n_docs"),
          max(col("n_chars")).as("n_chars"),
          max(col("n_bytes")).as("n_bytes"),
          max(col("n_ws_tokens")).as("n_ws_tokens"),
          max(col("n_bpe_tokens")).as("n_bpe_tokens"))
      graft.operators.TextAnalysis
        .fertilityReportFromCounts(finalState)
        .orderBy("source", "lang")
    },
    Some(NorthStar10.fertilityOracleSql))

  val all: Seq[Q] = Seq(
    completeMode, appendMode, streamDedup, streamStaticJoin, streamFromQueue,
    streamStreamJoin, streamSessions, streamStreamOuter, streamStateful,
    streamChained, streamUnion, streamSliding, streamTws, streamTimerSessions,
    streamVectorSearch, streamCuration, streamCheckpointRecovery,
    streamThreeWayJoin, streamImportanceGate, streamNearDedup,
    streamQualityGate, streamSnapshotMerge, streamMixtureRealize,
    streamEmbedDecontam, streamSourceQuota, streamSftGate, streamRewardGate,
    streamOovMonitor, streamDriftMonitor, streamClipMonitor,
    streamCusumMonitor, streamGatePanel, streamKsMonitor, streamArtifactGate,
    streamHellingerMonitor, streamEmbeddingDrift, streamDupCard,
    streamShadowEval, streamPackingMonitor, streamPrototypeGate,
    streamFertilityMonitor, streamShardRouter, streamAnisotropyMonitor,
    streamPassAtK, streamFunnel, streamOhlc, streamCohorts)
}
