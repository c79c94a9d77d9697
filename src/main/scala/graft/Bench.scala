package graft

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  * Queries are materialized through the `noop` sink so the full plan
  * (projections included) executes — `.count()` would let Catalyst prune
  * the very work being measured.
  */
object Bench {
  /** One per-query measurement. `secs` is the CONFIRMED value: when the
    * first pass exceeded the query's committed ceiling, the fixed breach
    * policy ([[confirm]]) re-timed it and the minimum was kept —
    * `firstPass`/`retry`/`retry2` record every number so the artifact
    * itself shows whether a breach was noise (a re-time far under) or
    * real (every re-time also over). `profile`/`retryProfile`/
    * `retry2Profile` are the [[QueryProfile]] of each timed pass.
    */
  final case class Timing(
      name: String,
      secs: Double,
      err: Option[String] = None,
      firstPass: Option[Double] = None,
      retry: Option[Double] = None,
      profile: Option[Map[String, Double]] = None,
      retryProfile: Option[Map[String, Double]] = None,
      retry2: Option[Double] = None,
      retry2Profile: Option[Map[String, Double]] = None)

  /** Host-speed reference for one sweep: `readings` are the labelled
    * [[calibrate]] timings (`spin_start`, `scan_start`, … `scan_end`,
    * seconds; a failed scan reads −1), `ratio` is their total over the
    * same readings in the committed bench_last.json — above 1 the host
    * ran the fixed work slower than when that record was taken. The
    * readings never gate; they let a reader of an over-budget line see
    * whether the whole host moved.
    */
  final case class Calibration(
      readings: Seq[(String, Double)], ratio: Option[Double])

  /** Committed per-query ceilings (bench_budget.json), read from the
    * working directory — used only to decide which first-pass timings
    * need a confirming isolated re-time. Missing or unreadable file →
    * no re-times (the run still measures everything once).
    */
  private def budgets(): Map[String, Double] =
    try graft.tools.BenchGuard.parseFlat(java.nio.file.Files.readString(
      java.nio.file.Paths.get("bench_budget.json")))
    catch { case _: Throwable => Map.empty }

  private def secsOf(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  @volatile private var spinSink = 0L

  /** One calibration reading: (spin, scan) seconds. `spin` is a fixed
    * xorshift loop on the driver thread — pure CPU, no allocation, no
    * Spark; `scan` is one `noop` scan of `<sfDir>/lineitem.parquet`
    * (−1 when it fails) — the engine's own scan path on fixed data.
    * Neither depends on any registry code, so a change in either
    * between two sweeps is the host's, not the plan's.
    */
  private[graft] def calibrate(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): (Double, Double) = {
    val spin = secsOf {
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 200000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
      }
      spinSink = x
    }
    val scan =
      try secsOf(spark.read.parquet(s"$sfDir/lineitem.parquet")
        .write.format("noop").mode("overwrite").save())
      catch { case _: Throwable => -1.0 }
    (spin, scan)
  }

  /** Total of this sweep's calibration readings over the same readings
    * of `committed` (only labels positive in both count). None when the
    * committed record carries no usable calibration.
    */
  private[graft] def calibrationRatio(readings: Seq[(String, Double)],
      committed: Map[String, Double]): Option[Double] = {
    val shared = readings.filter { case (k, v) =>
      v > 0 && committed.get(k).exists(_ > 0)
    }
    if (shared.isEmpty) None
    else Some(shared.map(_._2).sum / shared.map(p => committed(p._1)).sum)
  }

  /** Cool-down before the spaced re-time: long enough to leave the
    * contention window a first pass and its isolated re-time can both
    * land in (the r13 n57 record: 33.7 s first pass, 45.6 s re-time,
    * both inside one co-tenant window that cleared within seconds).
    */
  private val coolDownMs = 20000L

  /** The fixed breach policy. A first pass at or under its ceiling (or
    * a failed one) stands as is. Over it, the query gets one isolated
    * re-time; still over, a [[coolDownMs]] cool-down and one spaced
    * re-time. The minimum of the (up to) three times is kept, so pass/
    * fail depends on timings alone — never on a reading of the host.
    * A re-time that throws counts as the first pass again.
    */
  private[graft] def confirm(first: Timing, ceiling: Double,
      retime: () => (Double, Map[String, Double]),
      coolDown: () => Unit = () => Thread.sleep(coolDownMs)): Timing = {
    val t = first.secs
    if (first.err.isDefined || t < 0 || t <= ceiling) first
    else {
      val n = first.name
      def attempt(): (Double, Option[Map[String, Double]]) =
        try { val (r, p) = retime(); (r, Some(p)) }
        catch { case _: Throwable => (t, None) }
      val (r, rp) = attempt()
      println(f"Bench: $n first-pass ${t}%.2fs over its ${ceiling}%.2fs " +
        f"ceiling — isolated re-time ${r}%.2fs (min kept)")
      val spaced =
        if (r <= ceiling) None
        else {
          coolDown()
          val s = attempt()
          println(f"Bench: $n still over — spaced re-time after " +
            f"${coolDownMs / 1000}s cool-down ${s._1}%.2fs (min kept)")
          Some(s)
        }
      first.copy(secs = (Seq(t, r) ++ spaced.map(_._1)).min,
        firstPass = Some(t), retry = Some(r), retryProfile = rp,
        retry2 = spaced.map(_._1), retry2Profile = spaced.flatMap(_._2))
    }
  }

  /** Warmed, cache-isolated timing pass over every registered query,
    * SELF-CONFIRMING: any first-pass timing over its committed ceiling
    * is re-measured in isolation (clean caches, gc'd heap) by the fixed
    * [[confirm]] policy and the minimum kept. A 150-query shared-JVM
    * run lands GC/JIT debt on arbitrary queries (the r5 q25/q26/q27 and
    * r6 n43 flaps, both pinned as harness noise via isolated cold
    * re-times); a genuine plan regression is slow in isolation too and
    * stays visible. The confirm pass used to live only in
    * [[graft.tools.BenchGuard]]'s own run path, so the driver's artifact
    * could record an unconfirmed 3× flap the committed evidence couldn't
    * reach (r6 n43) — folding it here makes every artifact carry its own
    * adjudication. Shared with BenchGuard so the regression gate times
    * exactly what the driver times. [[calibrate]] runs at sweep start,
    * middle and end; its readings come back with the timings.
    */
  def run(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): (Seq[Timing], Calibration) = {
    // JVM/codegen warmup on the smallest SF so per-query times measure
    // the engine, not first-use JIT (one full pass, results discarded).
    SparkEntry.queries.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // A failing query records -1 (never a small positive time) and lands
    // in the errors map — failures must be visible in the JSON, not
    // silently folded into 'total'.
    def dropAllBlocks(): Unit = GraftSession.dropAllBlocks(spark)
    // warm-up left caches behind: start the timed section clean
    dropAllBlocks()
    val ceil = budgets()
    // The last COMMITTED sweep's calibration. bench_last.json is written
    // only when a run COMPLETES, so the file read here is the previous
    // full record, not this sweep's.
    val committed: Map[String, Double] =
      try graft.tools.BenchGuard.extractCalibration(
        java.nio.file.Files.readString(
          java.nio.file.Paths.get("bench_last.json"))) - "ratio"
      catch { case _: Throwable => Map.empty }
    val readings = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def checkpoint(label: String): Unit = {
      val (spin, scan) = calibrate(spark, sfDir)
      readings += (s"spin_$label" -> spin)
      readings += (s"scan_$label" -> scan)
    }
    val names = sweepOrder(SparkEntry.queries.keySet.toSeq)
      .map(n => n -> SparkEntry.queries(n))
    checkpoint("start")
    val timings = names.zipWithIndex.map { case ((name, fn), idx) =>
      if (idx == names.size / 2) checkpoint("mid")
      val first = try {
        // the profile's listener-bus drain and reads sit outside the
        // timed window (secsOf times the query alone)
        val (t, profile) = QueryProfile.measure(spark)(secsOf(
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()))
        // operators persist their diamond intermediates (bigram tables,
        // shingle indexes); queries never unpersist — over 100+ queries
        // the stale blocks pile into executor memory and the GC/spill
        // pressure lands on whichever query runs later (the r3 q01
        // outlier). Dropping caches between queries keeps each
        // measurement independent; the clear happens OUTSIDE the timed
        // window because it is harness hygiene, not query work. The
        // explicit gc drains the garbage the previous query left behind
        // (dropped cache blocks, broadcasts, codegen classes) so its
        // collection cost is not billed to the NEXT query — standalone
        // 0.9s queries were recording 7s purely from inherited heap debt.
        dropAllBlocks()
        System.gc()
        Timing(name, t, profile = Some(profile))
      } catch {
        case e: Throwable =>
          // best-effort: a clearCache failure after a query failure must
          // not abort the run and lose every recorded timing
          try dropAllBlocks() catch { case _: Throwable => () }
          Timing(name, -1.0, err = Some(s"${e.getClass.getSimpleName}: ${
            String.valueOf(e.getMessage).take(80)}"))
      }
      ceil.get(name).fold(first)(c =>
        confirm(first, c, () => retime(spark, sfDir, name)))
    }
    checkpoint("end")
    val cal = Calibration(readings.toSeq,
      calibrationRatio(readings.toSeq, committed))
    cal.ratio.foreach(r => println(f"Bench: calibration ratio ${r}%.3f " +
      "vs the committed bench_last.json"))
    (timings, cal)
  }

  /** Pinned sweep order (sweep_order.json: {"name": slot}): a
    * committed query keeps its slot forever; names not yet in the file
    * (this round's additions) run AFTER every pinned one, sorted by
    * name. Registry growth therefore never shifts an existing query
    * deeper into accumulated shared-JVM debt — r12's 12 new n1xx names
    * pushed every s-query ~13 alphabetical slots later and forced four
    * ceiling re-derivations for untouched queries; under this order
    * the same growth moves nobody. RegistryInvariantsSpec pins
    * file↔registry set equality, so additions are APPENDED to the
    * file in the commit that registers them (BenchOne derives their
    * ceiling in the same end-of-sweep debt regime they will run in).
    * A missing/unreadable file degrades to the old alphabetical order.
    */
  private[graft] def sweepOrder(names: Seq[String]): Seq[String] = {
    val pinned: Map[String, Double] =
      try graft.tools.BenchGuard.parseFlat(java.nio.file.Files.readString(
        java.nio.file.Paths.get("sweep_order.json")))
      catch { case _: Throwable => Map.empty }
    names.sortBy(n => (pinned.getOrElse(n, Double.MaxValue), n))
  }

  /** One isolated re-measurement of a single query (clean caches, gc'd
    * heap) — the [[run]] noise-confirm pass. Mirrors the timed section
    * of [[run]] exactly.
    */
  def retime(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, name: String): (Double, Map[String, Double]) = {
    GraftSession.dropAllBlocks(spark)
    System.gc()
    val timed = QueryProfile.measure(spark)(secsOf(
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()))
    GraftSession.dropAllBlocks(spark)
    timed
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // GraftSession.build = the engine's real configuration, including its
    // optimizer rules (RewriteSizeOfSplit). A hand-rolled session here
    // would benchmark a different engine than Verify checks.
    val spark = GraftSession.build("graft-bench")
    val (results, cal) = run(spark, sfDir)
    val line = jsonLine(results, sfDir, Some(cal))
    println(line)
    writeArtifact(line)
    spark.stop()
  }

  /** Also persist the full one-line JSON to a file: driver log captures
    * keep only the final ~2 kB of stdout, which clips the per-query map
    * once the registry passes ~100 queries (BENCH_r05.json lost every
    * c, n, and q01–q08 timing). The committed file is the durable
    * per-query record.
    */
  def writeArtifact(line: String, path: String = "bench_last.json"): Unit =
    try java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      println(s"Bench: could not write $path: ${e.getMessage}")
    }

  /** The one-line bench JSON (shared with BenchGuard, whose timing runs
    * would otherwise discard the very numbers that justify its verdict).
    * `queries` carries the CONFIRMED values; `retimed` records every
    * first-pass ceiling breach as {"first": x, "retry": y[, "retry2": z]}
    * so the artifact adjudicates its own flaps; `calibration` carries
    * the sweep's [[Calibration]] as one flat object.
    */
  def jsonLine(results: Seq[Timing], sfDir: String,
      calibration: Option[Calibration] = None): String = {
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // full JSON string escape — AnalysisException messages are often
    // multiline within the first 80 chars; a raw control char would make
    // the whole benchmark line unparseable exactly when a query fails
    def esc(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val qs = results.map(t => "\"" + t.name + "\":" + fmt(t.secs))
      .mkString("{", ",", "}")
    val errs = results.collect { case t if t.err.isDefined =>
      "\"" + esc(t.name) + "\":\"" + esc(t.err.get) + "\""
    }.mkString("{", ",", "}")
    // per-query layered profile of the first pass (QueryProfile). Like
    // every other object, emitted BEFORE "queries" (see the key-order
    // note at the end of this method); its dotted keys never match
    // BenchGuard's flat-pair shape.
    val profiles = results.collect { case t if t.profile.isDefined =>
      "\"" + t.name + "\":" + QueryProfile.json(t.profile.get)
    }.mkString("{", ",", "}")
    // first/retry/retry2 stay adjacent and first in the entry:
    // BenchGuard's last-resort replay fallback reads their minimum
    val retimed = results.collect {
      case t @ Timing(n, _, _, Some(f), Some(r), _, _, _, _) =>
        def gcFields(label: String, p: Option[Map[String, Double]]): String =
          p.map(p => s""","${label}_gc_ms":""" +
            math.round(p.getOrElse("jvm.gc_s", 0.0) * 1000) +
            s""","${label}_heap_gb":""" + fmt(p.getOrElse("jvm.heap_used_gb", 0.0)))
            .getOrElse("")
        "\"" + n + "\":{\"first\":" + fmt(f) + ",\"retry\":" + fmt(r) +
          t.retry2.map(v => ",\"retry2\":" + fmt(v)).getOrElse("") +
          gcFields("first", t.profile) + gcFields("retry", t.retryProfile) +
          gcFields("retry2", t.retry2Profile) + "}"
    }.mkString("{", ",", "}")
    // flat calibration object: its keys never match BenchGuard's
    // query-name shape, so the truncated-artifact fallback grep cannot
    // mistake them for timings
    val calObj = calibration.map { c =>
      (c.readings.map { case (l, v) => "\"" + l + "\":" + fmt(v) } ++
        c.ratio.map(r => "\"ratio\":" + fmt(r)))
        .mkString("\"calibration\":{", ",", "},")
    }.getOrElse("")
    val total = results.filter(_.secs >= 0).map(_.secs).sum
    // environment fields make warm-vs-cold harness deltas explainable
    // from the artifact alone (round 4 carried a README band 25% under
    // the driver-observed total with nothing in either to reconcile them)
    val rt = Runtime.getRuntime
    val env = s""""cpus":${rt.availableProcessors()},""" +
      s""""max_heap_gb":${fmt(rt.maxMemory() / 1e9)},""" +
      s""""java":"${esc(System.getProperty("java.version"))}","""
    // KEY ORDER IS LOAD-BEARING. The driver's log capture keeps only
    // the final ~2 kB of stdout, so the end of this line is the only
    // part guaranteed to survive into the committed BENCH_r*.json:
    //   - "queries" goes as close to the end as a big object can,
    //     after every other OBJECT. r12 emitted it before
    //     "retimed" and the host receipts, whose growth pushed the whole
    //     map out of the tail and crashed BenchGuard's replay ("no
    //     per-query timings found"); with the map at the end, any clip
    //     lands either inside it (the surviving pairs get a partial
    //     check) or before it only when the line fits.
    //   - "n_queries" (the registry size this run timed) sits AFTER
    //     the map in the fixed-size suffix, so a replayer of a clipped
    //     artifact can label its coverage (PARTIAL: k/n) without the
    //     registry — any clip that keeps the line's tail keeps it.
    //   - "value" (the headline total) stays absolutely LAST so the
    //     driver's metric read survives the same clip.
    // BenchGuardSpec round-trips a 241-query line through a 2 kB tail
    // clip to pin this contract.
    s"""{"metric":"total","unit":"sec","sf":"$sfDir",$env"profile":$profiles,"errors":$errs,"retimed":$retimed,$calObj"queries":$qs,"n_queries":${results.size},"value":${fmt(total)}}"""
  }
}
