package graftbench

import graft.Sessions
import graft.ops.QueryCaches
import graft.sources.SnapshotScanProbe
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run in one JVM: set up, run each distinct op once cold,
  * run whole rounds of the seeded op sequence warm until the given seconds
  * have passed, then run the untimed output checks. Writes everything it
  * saw to `<out>/result.json`; `run.py` turns that into metrics.
  *
  * Arguments (all `--name value`): `workload`, `seed`, `seconds`,
  * `trace` (0|1), `data` (generated inputs), `out` (results and scratch),
  * and for `corpus_ops` `ops` (comma-separated entry names).
  */
object Main {

  /** One execution of one op. */
  final case class Sample(op: String, seq: Int, cold: Boolean, seconds: Double, error: Option[String],
      spanId: Int)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = a("out")

    // setup: session start, warm-up, and the workload's fixtures; repeated
    // so the reported set-up time is a median, the last session is kept
    val setups = 3
    var spark: SparkSession = null
    var wl: Workload = null
    val setupSeconds = (1 to setups).map { i =>
      val t0 = System.nanoTime()
      spark = Sessions.local(s"graftbench-$workload")
      warmUp(spark)
      wl = Workload(workload, spark, a, s"$out/setup$i")
      wl.fixture()
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < setups) spark.stop()
      dt
    }
    val tracer = new Tracer(spark, traced)
    val samples = mutable.ArrayBuffer[Sample]()

    def execute(op: String, seq: Int, cold: Boolean): Unit = {
      val footer0 = SnapshotScanProbe.plannerFooterReads
      var error: Option[String] = None
      var dt = 0.0
      val t0 = System.nanoTime()
      try tracer.span(op, seq)(wl.run(op, seq, tracer))
      catch { case NonFatal(e) => error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      finally {
        dt = (System.nanoTime() - t0) / 1e9
        // outside the timed region, and also after a failure, so a failing
        // op cannot leave persisted blocks behind for the next one
        QueryCaches.releaseAll()
      }
      wl.afterOp()
      val spanId = tracer.spans.last.id
      if (traced) {
        val c = tracer.countersOf(spanId)
        c.add("sources.footer_reads", (SnapshotScanProbe.plannerFooterReads - footer0).toDouble)
        c.add("ops.cached_bytes_leaked", leakedBytes(spark))
      }
      samples += Sample(op, seq, cold, dt, error, spanId)
    }

    // cold pass: each distinct op once, right after setup
    var seq = 0
    wl.coldOps(seed).foreach { op => execute(op, seq, cold = true); seq += 1 }
    // warm window: whole rounds of the seeded sequence, closed loop, one
    // client, until `seconds` have passed (at least one round), so every op
    // runs equally often whatever the program's speed
    val w0 = System.nanoTime()
    val deadline = w0 + (seconds * 1e9).toLong
    val rounds = wl.warmRounds(seed)
    do rounds.next().foreach { op => execute(op, seq, cold = false); seq += 1 }
    while (System.nanoTime() < deadline && rounds.hasNext)
    val windowSeconds = (System.nanoTime() - w0) / 1e9
    QueryCaches.releaseAll()
    val heapMb = heapAfterGcMb()
    val checks = wl.checks(samples.map(_.op).distinct.toSeq)
    val extra = wl.summary()
    tracer.settle()

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "seed" -> seed,
      "trace" -> (if (traced) 1 else 0),
      "setup_s" -> setupSeconds,
      "window_s" -> windowSeconds,
      "heap_after_gc_mb" -> heapMb,
      "samples" -> samples.toSeq.map { s =>
        Map("op" -> s.op, "seq" -> s.seq, "cold" -> s.cold, "seconds" -> s.seconds, "span" -> s.spanId,
          "error" -> s.error)
      },
      "checks" -> checks.toMap,
      "summary" -> extra.toMap)
    if (traced) {
      result("spans") = (tracer.spans.toSeq ++ tracer.jobs).map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op, "start_ns" -> s.start,
          "end_ns" -> s.end)
      }
      result("counters") = tracer.counters.map { case (id, c) => id.toString -> c.values.toMap }.toMap
    }
    Files.writeString(Paths.get(out, "result.json"), Main.json(result.toMap))
    spark.stop()
  }

  /** `value` (maps, sequences, options and scalars) as JSON text. */
  def json(value: AnyRef): String = org.json4s.jackson.Serialization.write(value)(org.json4s.DefaultFormats)

  /** Codegen, shuffle and the parquet writer, exercised once per session. */
  private def warmUp(spark: SparkSession): Unit =
    spark.range(200000).selectExpr("id % 97 AS k", "id AS v").groupBy("k").count()
      .write.format("noop").mode("overwrite").save()

  /** Bytes of persisted RDDs still registered with the context. */
  private def leakedBytes(spark: SparkSession): Double = {
    val live = spark.sparkContext.getPersistentRDDs.keySet
    spark.sparkContext.getRDDStorageInfo.filter(r => live.contains(r.id))
      .map(r => (r.memSize + r.diskSize).toDouble).sum
  }

  /** Used heap after a full GC. Spark's context cleaner frees the blocks
    * of collected broadcasts and shuffles asynchronously, so the GC is
    * repeated with a pause and the lowest reading kept. */
  private def heapAfterGcMb(): Double = {
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      bean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }
}
