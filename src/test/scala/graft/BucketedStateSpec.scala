package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r18 hash-bucketed standing-state layout
  * (`Dedup.appendBucketed` / `Dedup.readProbedBuckets`): probing must
  * return every state row whose key equals a probe key (pruning can
  * never drop a matching row), the single-bucket fast path must be
  * layout-compatible with the multi-bucket path, the probe must
  * physically read only the probed bucket directories, and the bucket
  * count recorded on first append must match every later access.
  */
class BucketedStateSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = {
    val d = java.nio.file.Files
      .createTempDirectory("graft_bucket_spec_").toFile
    d.deleteOnExit()
    new java.io.File(d, "state").getAbsolutePath
  }

  private val D = graft.operators.Dedup

  test("multi-bucket probe returns exactly the key-matching rows") {
    val dir = tmp()
    val state = (0L until 200L)
      .map(i => (i, s"key-${i % 50}")).toDF("doc_id", "band_key")
    D.appendBucketed(state, dir, "band_key", buckets = 4)
    // every bucket dir exists and data files exclude the bucket column
    assert((0 until 4).count(b =>
      new java.io.File(dir, s"bucket=$b").isDirectory) >= 2)
    val probe = Seq("key-3", "key-17").toDF("band_key")
    val empty = state.filter(lit(false))
    val got = D.readProbedBuckets(spark, dir, probe, empty, buckets = 4)
    // superset of the matching rows (the prune is by bucket, so other
    // keys in probed buckets ride along — the equi-join drops them)
    val keys = got.select("band_key").distinct()
      .collect().map(_.getString(0)).toSet
    assert(Set("key-3", "key-17").subsetOf(keys))
    // and the join result equals the unpruned join
    val full = spark.read.parquet(
      (0 until 4).map(b => s"$dir/bucket=$b"): _*)
      .join(probe, "band_key").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val pruned = got.join(probe, "band_key").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(pruned == full)
    assert(pruned.size == 8) // 4 docs per key × 2 keys
  }

  test("probe physically reads only the probed bucket dirs") {
    val dir = tmp()
    val state = (0L until 100L)
      .map(i => (i, s"key-$i")).toDF("doc_id", "band_key")
    D.appendBucketed(state, dir, "band_key", buckets = 8)
    val probe = Seq("key-7").toDF("band_key")
    val empty = state.filter(lit(false))
    val got = D.readProbedBuckets(spark, dir, probe, empty, buckets = 8)
    val scannedPaths = got.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.toString.linesIterator.filter(_.contains("Location")))
      .mkString("\n")
    // exactly one bucket dir in the scan location (the probe key's)
    assert("bucket=".r.findAllIn(scannedPaths).size == 1, scannedPaths)
  }

  test("single-bucket fast path is layout-compatible") {
    val dir = tmp()
    val a = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "band_key")
    D.appendBucketed(a, dir, "band_key", buckets = 1)
    D.appendBucketed(Seq((3L, "z")).toDF("doc_id", "band_key"),
      dir, "band_key", buckets = 1)
    val empty = a.filter(lit(false))
    val got = D.readProbedBuckets(spark, dir,
      Seq("x", "z").toDF("band_key"), empty, buckets = 1)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L)) // B=1: everything in bucket 0
  }

  test("bucket count is recorded on first append; a different count fails loud") {
    val dir = tmp()
    val state = (0L until 20L)
      .map(i => (i, s"key-$i")).toDF("doc_id", "band_key")
    D.appendBucketed(state, dir, "band_key", buckets = 4)
    val manifest = java.nio.file.Paths.get(dir, "_buckets")
    assert(java.nio.file.Files.readString(manifest).trim == "4")
    val empty = state.filter(lit(false))
    val probe = Seq("key-3").toDF("band_key")
    def expectMismatch(body: => Unit): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains(dir) &&
        e.getMessage.contains("with 4 buckets") &&
        e.getMessage.contains("accessed with 8"), e.getMessage)
    }
    expectMismatch(D.readProbedBuckets(spark, dir, probe, empty, buckets = 8))
    expectMismatch(D.appendBucketed(state, dir, "band_key", buckets = 8))
    // the matching count still probes, and the manifest stays out of
    // the parquet read
    assert(D.readProbedBuckets(spark, dir, probe, empty, buckets = 4)
      .join(probe, "band_key").count() == 1)
    // bucket dirs whose count was never recorded are refused too
    java.nio.file.Files.delete(manifest)
    val e = intercept[IllegalArgumentException](
      D.readProbedBuckets(spark, dir, probe, empty, buckets = 4))
    assert(e.getMessage.contains("no _buckets manifest"), e.getMessage)
  }

  test("missing state dir yields the empty schema frame") {
    val dir = tmp() + "_never_written"
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "band_key")
    val got = graft.operators.Dedup.readProbedBuckets(spark, dir,
      Seq("x").toDF("band_key"), empty, buckets = 4)
    assert(got.columns.toSeq == Seq("doc_id", "band_key"))
    assert(got.count() == 0)
  }
}
