package graftbench

import graft.SparkEntry
import graft.etl.{BronzeToSilver, Dimensions}
import graft.ingest.BronzeWriter
import graft.model.{FixedClock, Schemas}
import graft.sql.{AnalyticsSql, FactViews}
import graft.store.SnapshotStore
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** A workload: its fixtures, its seeded op order, one op, its checks. */
trait Workload {
  /** Built during setup (timed as part of `setup_s`). */
  def fixture(): Unit
  /** First execution of each distinct op, in seeded order. */
  def coldOps(seed: Long): Seq[String]
  /** The warm sequence that follows, in rounds: the window runs whole
    * rounds, so every op in a round runs equally often. */
  def warmRounds(seed: Long): Iterator[Seq[String]]
  def run(op: String, seq: Int, tr: Tracer): Unit
  /** Called after each op, outside its timed region. */
  def afterOp(): Unit = ()
  /** Untimed output checks over the distinct ops that ran: op -> verdict. */
  def checks(ops: Seq[String]): Seq[(String, String)]
  /** Whatever else `run.py` needs to compute metrics and verify outputs. */
  def summary(): Seq[(String, Any)]
}

object Workload {
  def apply(name: String, spark: SparkSession, args: Map[String, String], dir: String): Workload = {
    Files.createDirectories(Paths.get(dir))
    name match {
      case "corpus_ops" =>
        new QueryWorkload(spark, args("data"), args("ops").split(",").toSeq, dir)
      case "daily_load" => new DailyLoad(spark, args("data"), dir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  /** Writes every output column to the `noop` sink. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs `df`: collects its rows, or writes them to the `noop` sink.
    * A collect hands `df.queryExecution` itself to the tracer's listener,
    * analysis phase included. A noop write hands over a new command plan
    * around the already-analysed query, so the query's own (eager)
    * analysis is charged here, once. */
  def action(df: DataFrame, collect: Boolean, tr: Tracer): Option[Array[Row]] =
    if (collect) Some(df.collect())
    else {
      if (tr.enabled)
        df.queryExecution.tracker.phases.get("analysis").foreach(p => tr.current.add("plans.analysis_ms", p.durationMs.toDouble))
      noop(df)
      None
    }
}

/** Declared entries of `SparkEntry.queries` over generated tables, run as
  * repeated seeded permutations of the op list. */
final class QueryWorkload(spark: SparkSession, data: String, ops: Seq[String], dir: String) extends Workload {
  private val fns = SparkEntry.queries
  private val oracles = SparkEntry.oracleSql
  ops.foreach(op => require(fns.contains(op), s"no declared query $op"))

  def fixture(): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
      "documents", "embeddings").foreach(t => graft.sources.Tables.table(spark, data, t).schema)

  /** The cold pass runs in declared order, so an op's first execution
    * follows the same ops in every run; the warm sequence is seeded. */
  def coldOps(seed: Long): Seq[String] = ops
  def warmRounds(seed: Long): Iterator[Seq[String]] = {
    val rng = new scala.util.Random(seed)
    Iterator.continually(rng.shuffle(ops))
  }

  private var firstResult: Option[(String, DataFrame, Array[Row])] = None
  private val verdicts = mutable.LinkedHashMap[String, String]()
  private val firstRows = mutable.Map[String, Seq[String]]()

  /** Every op writes all its output columns to the `noop` sink, except
    * an op's first execution, which collects its rows instead: collecting
    * also reads every column, and those rows are what the check compares. */
  def run(op: String, seq: Int, tr: Tracer): Unit = {
    val df = fns(op)(spark, data)
    firstResult = Workload.action(df, collect = !verdicts.contains(op), tr).map(rows => (op, df, rows))
  }

  /** Ops with an oracle get their first result written out for `run.py`
    * to compare against DuckDB; ops without one keep it to compare with
    * one more execution at the end. */
  override def afterOp(): Unit = firstResult.foreach { case (op, df, rows) =>
    firstResult = None
    verdicts(op) =
      if (!oracles.contains(op)) { firstRows(op) = rows.map(_.toString).sorted.toSeq; "ok" }
      else try {
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .write.mode("overwrite").parquet(s"$dir/check/$op")
        s"dump:$dir/check/$op"
      } catch { case NonFatal(e) => s"error: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
  }

  def checks(ran: Seq[String]): Seq[(String, String)] = {
    Files.writeString(Paths.get(dir, "oracle_sql.json"), Main.json(ran.filter(oracles.contains).map(op => op -> oracles(op)).toMap))
    firstRows.foreach { case (op, first) =>
      verdicts(op) =
        try {
          val again = fns(op)(spark, data).collect().map(_.toString).sorted.toSeq
          if (again == first) "ok" else s"mismatch: ${first.size} rows first, ${again.size} rows again"
        } catch { case NonFatal(e) => s"error: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
        finally graft.ops.QueryCaches.releaseAll()
    }
    verdicts.toSeq
  }

  def summary(): Seq[(String, Any)] = Seq("oracle_sql" -> s"$dir/oracle_sql.json")
}

/** One generated day: its extraction time and the late correction it carries. */
final case class Day(n: Int, iso: String, date: String, correctedIso: String, corrected: Seq[String])

/** The reference's daily cadence: one op is one day of bronze ingest,
  * silver ETL, SCD2 dimension merge, fact appends into snapshot tables
  * (with late-correction deletes and compaction), and the four analytics
  * queries over the whole history, read through the snapshot source.
  *
  * The generated plan is `<data>/days.tsv` plus one payload file per day
  * and type (one JSON document per line). */
final class DailyLoad(spark: SparkSession, data: String, dir: String) extends Workload {
  private val days: IndexedSeq[Day] = Files.readAllLines(Paths.get(data, "days.tsv")).asScala.toIndexedSeq
    .map(_.split("\t", -1)).map { f =>
      Day(f(0).toInt, f(1), f(2), f(3), f(4).split(",").toSeq.filter(_.nonEmpty))
    }
  private val bronze = s"$dir/bronze"
  private val silverCurrent = s"$dir/silver/current_weather"
  private val silverForecast = s"$dir/silver/forecast_weather"
  private val store = s"$dir/store"
  private val dimLocation = s"$store/dim_location"
  private val dimDate = s"$store/dim_date"
  private val factActual = s"$store/fact_weather_actual"
  private val factForecast = s"$store/fact_weather_forecast"
  private val keys = Seq("location_name", "country_code")
  private val observed = mutable.LinkedHashMap[String, Any]()
  private var bronzeBytes = 0L
  private var bronzeRecords = 0L
  private val keyFmt = DateTimeFormatter.ofPattern("'year='yyyy/'month='MM/'day='dd/'hour='HH")

  def fixture(): Unit = SnapshotStore.commit(Dimensions.buildDimDate(spark), dimDate)

  def coldOps(seed: Long): Seq[String] = Seq(name(0))
  /** One round: every generated day after day 0, in order. */
  def warmRounds(seed: Long): Iterator[Seq[String]] = Iterator.single(days.drop(1).map(d => name(d.n)))
  private def name(n: Int): String = f"day$n%03d"

  private def lines(n: Int, kind: String): Seq[String] =
    Files.readAllLines(Paths.get(data, f"day$n%03d_$kind.jsonl")).asScala.toSeq

  private def snapshot(table: String): DataFrame =
    spark.read.format("graft-snapshot").option("path", table).load()

  def run(op: String, seq: Int, tr: Tracer): Unit = {
    val day = days(op.stripPrefix("day").toInt)
    val d = day.n
    val clock = FixedClock(s"${day.date} 07:00:00")
    val at = LocalDateTime.parse(day.iso)
    val (current, forecast) = (lines(d, "current"), lines(d, "forecast"))

    tr.span("ingest.write", seq) {
      Seq("current" -> current, "forecast" -> forecast).foreach { case (kind, payloads) =>
        bronzeBytes += Files.size(BronzeWriter.writeBatch(bronze, kind, at, payloads))
      }
    }
    bronzeRecords += current.size
    val part = at.format(keyFmt)
    tr.span("etl.bronze_to_silver", seq) {
      val cur = BronzeToSilver.readBronze(spark, s"$bronze/raw/current/$part/*.json", Some(Schemas.currentBronze))
      val fc = BronzeToSilver.readBronze(spark, s"$bronze/raw/forecast/$part/*.json", Some(Schemas.forecastBronze))
      observed(s"$op.silver_rows") =
        BronzeToSilver.writeSilverObserved(BronzeToSilver.currentSilver(cur, clock), silverCurrent, "observation_date")("rows_written")
      observed(s"$op.forecast_rows") =
        BronzeToSilver.writeSilverObserved(BronzeToSilver.forecastSilver(fc, clock), silverForecast, "forecast_created_date")("rows_written")
    }
    val daySilver = spark.read.parquet(silverCurrent).where(col("observation_date") === to_date(lit(day.date)))
    val dayForecast = spark.read.parquet(silverForecast).where(col("forecast_created_date") === to_date(lit(day.date)))

    tr.span("etl.dims", seq) {
      val dim =
        if (d == 0) Dimensions.buildDimLocation(daySilver, clock)
        else {
          val attrs = daySilver
            .select("location_name", "country_code", "latitude", "longitude", "timezone_offset_seconds")
            .distinct()
            .withColumn("timezone_name", Dimensions.timezoneName(col("timezone_offset_seconds")))
          Dimensions.scd2Merge(SnapshotStore.read(spark, dimLocation), attrs, keys, "location_key", keys, clock)
        }
      tr.span("store.commit", seq)(SnapshotStore.commit(dim, dimLocation))
    }

    tr.span("sql.facts", seq) {
      val dims = SnapshotStore.read(spark, dimLocation)
      val dates = SnapshotStore.read(spark, dimDate)
      Seq(factActual -> FactViews.factWeatherActual(daySilver, dims, dates),
        factForecast -> FactViews.factWeatherForecast(dayForecast, dims, dates)).foreach { case (t, df) =>
        tr.span("store.commit", seq)(if (d == 0) SnapshotStore.commit(df, t) else SnapshotStore.appendCommit(df, t))
      }
    }

    if (day.corrected.nonEmpty) tr.span("store.commit", seq) {
      // late correction: the readings of some cities two days back are void
      val ids = SnapshotStore.read(spark, dimLocation).where(col("location_name").isin(day.corrected: _*))
        .select("location_key").collect().map(_.get(0))
      SnapshotStore.deleteCommit(spark, factActual, Seq("location_key", "observation_time"),
        col("location_key").isin(ids.toIndexedSeq: _*) && col("observation_time") === to_timestamp(lit(day.correctedIso)))
    }
    if (d % 4 == 2) tr.span("store.commit", seq) {
      // compaction, the day before each late correction: a full rewrite of
      // the actuals, folding in the deletes of earlier corrections
      SnapshotStore.commit(SnapshotStore.read(spark, factActual), factActual)
    }

    tr.span("sql.report", seq) {
      val actual = snapshot(factActual)
      snapshot(dimLocation).createOrReplaceTempView("dim_location")
      actual.createOrReplaceTempView("fact_weather_actual")
      FactViews.factForecastAccuracy(snapshot(factForecast), actual, clock).createOrReplaceTempView("fact_forecast_accuracy")
      Seq("q1" -> AnalyticsSql.q1, "q2" -> AnalyticsSql.q2, "q3" -> AnalyticsSql.q3(day.date), "q4" -> AnalyticsSql.q4)
        .foreach { case (q, text) =>
          val obs = Observation(s"$op-$q")
          Workload.noop(spark.sql(text).observe(obs, count(lit(1)).alias("rows")))
          observed(s"$op.$q") = obs.get("rows")
        }
    }
  }

  def checks(ran: Seq[String]): Seq[(String, String)] = {
    val dim = SnapshotStore.read(spark, dimLocation)
    observed("end.dim_rows") = dim.count()
    observed("end.dim_current_rows") = dim.where(col("is_current")).count()
    observed("end.silver_rows") = spark.read.parquet(silverCurrent).count()
    observed("end.forecast_rows") = spark.read.parquet(silverForecast).count()
    Nil
  }

  private def walk(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close() }
  }

  def summary(): Seq[(String, Any)] = {
    val storeFiles = walk(store).filterNot(_.startsWith(Paths.get(dimDate)))
    val silverFiles = walk(s"$dir/silver")
    observed.toSeq ++ Seq(
      "bronze_bytes" -> bronzeBytes,
      "bronze_records" -> bronzeRecords,
      "store_files" -> storeFiles.size,
      "store_bytes" -> storeFiles.map(Files.size).sum,
      "store_dv_files" -> storeFiles.count(_.toString.contains("/_deletes/")),
      "silver_bytes" -> silverFiles.map(Files.size).sum)
  }
}
