package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.dedup.Dedup
import graft.marketpulse.{DocumentMerge, DocumentSink, Fetch, Ingest, Pipeline}
import graft.queries.{OracleContext, Registry}
import graft.sources.Tables

/** One named op of a round. `body` times its named steps through the
  * recorder it is handed. */
final case class Op(name: String, body: Steps => Unit)

/** Named-step timer for the op in progress (every step is also a span). */
final class Steps(spans: Spans) {
  val times = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  def apply[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = spans(name)(body)
    times += name -> (System.nanoTime() - t0) / 1e9
    r
  }
}

trait Workload {
  /** Initial landing, before the warm-up rounds (part of set-up). */
  def land(): Unit = ()
  /** The ops of one round, in order. */
  def round: Seq[Op]
  /** Traced run only: layer probes run between rounds, outside every op. */
  def probe(): Unit = ()
  /** Per-layer values a probe or the check measured directly (not from
    * spans or listener events). */
  def layerValues: Map[String, Double] = Map.empty
  /** After the timed ops: write what the checker compares. Returns JSON
    * fields for the result file. */
  def check(out: String): Seq[(String, String)]
}

object Workloads {
  val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
    "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  /** Resolve every fixture table once, each loader in its own span. */
  def sourcesProbe(spark: SparkSession, dir: String, spans: Spans): Unit =
    spans("sources.resolve") {
      loaders.foreach { case (n, load) => spans(s"sources.$n")(load(spark, dir)) }
    }

  /** One action that computes every column of `df` and collects nothing. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }
}

/** Registry queries, one per op, over warm caches. Each op forces every
  * output column through Spark's `noop` sink: one action that computes
  * the whole result and collects nothing. (`count()` would let the
  * optimizer prune every column the count does not read.) The traced run also probes table resolution and the near-dup
  * cap witness between rounds. */
final class QueryMix(spark: SparkSession, dir: String, names: Seq[String],
                     spans: Spans, counters: Option[SparkCounters]) extends Workload {
  private val queries = names.map(Registry.byName)
  private val stats = scala.collection.mutable.Map.empty[String, Double]

  def round: Seq[Op] = queries.map { q =>
    Op(q.name, steps => steps(q.name) {
      val df = spans("queries.build")(q.run(spark, dir))
      // the built frame was analyzed eagerly, outside any action
      counters.foreach(_.record(df.queryExecution))
      spans("queries.action")(Workloads.force(df))
    })
  }

  override def probe(): Unit = {
    Workloads.sourcesProbe(spark, dir, spans)
    // counts of the data, not of timing: one probe per round suffices
    val (pairs, witness) = spans("dedup.stats") {
      Dedup.nearDupPairsWithStats(Tables.documents(spark, dir), "doc_id", "text",
        minJaccard = 0.7)
    }
    stats("dedup.pairs") = pairs.count().toDouble
    val w = witness.collect()(0)
    stats("dedup.capped_buckets") = w.getAs[Long]("capped_buckets").toDouble
    stats("dedup.dropped_rows") = w.getAs[Long]("dropped_rows").toDouble
  }

  override def layerValues: Map[String, Double] = stats.toMap

  def check(out: String): Seq[(String, String)] = {
    val errors = queries.flatMap { q =>
      try {
        q.run(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/${q.name}")
        None
      } catch { case e: Throwable => Some(q.name -> Json.str(e.toString.take(500))) }
    }
    // data-dependent oracles render against the same session and inputs
    OracleContext.current = Some((spark, dir))
    val oracles = SparkEntry.oracleSqlFor(names.toSet)
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json.obj(oracles.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
    Seq("output_errors" -> Json.obj(errors))
  }
}

/** The MarketPulse daily cycle: reference DAG (fetch through a stub
  * transport, U2 merge with the landed store, write-back), the four
  * table writes, then the reference quality suite. Each cycle serves the
  * next generated refetch version, wrapping after the last. */
final class EtlCycle(spark: SparkSession, input: String, work: String,
                     spans: Spans) extends Workload {
  private val tickers: Seq[String] =
    Json.strings(Files.readString(Paths.get(s"$input/tickers.json")))
  private val prefix = "marketpulse"
  private val store = s"$work/store"

  private def docs(sub: String): Map[String, String] =
    new File(s"$input/$sub").listFiles().filter(_.getName.endsWith(".json"))
      .map(f => f.getName.stripSuffix(".json") -> Files.readString(f.toPath)).toMap

  private val history = docs("history")
  private val versions: Vector[Map[String, String]] = Iterator.from(1)
    .takeWhile(v => new File(s"$input/refetch/$v").isDirectory)
    .map(v => docs(s"refetch/$v")).toVector
  /** Refetch versions served after the landing, in order (1-based). */
  private val served = scala.collection.mutable.ArrayBuffer.empty[Int]
  /** Quality-suite outcome of every cycle, the landing first. */
  private val quality = scala.collection.mutable.ArrayBuffer.empty[String]
  private val sizes = scala.collection.mutable.Map.empty[String, Double]

  private def cycle(fetch: Map[String, String], steps: Steps): Unit = {
    var outcome = "null" // a cycle that throws leaves no suite outcome
    try {
      val run = steps("dag")(spans("marketpulse.dag") {
        Pipeline.referenceDag(spark, tickers, new Fetch.StubFetcher(fetch), store)
      })
      // referenceDag leaves its merged raw frame persisted; a caller that
      // runs cycles in one session must release it
      try {
        steps("materialize")(spans("marketpulse.materialize")(Pipeline.materialize(run, prefix)))
        val report = steps("quality")(spans("quality.suite")(run.qualityReport))
        outcome = Json.arr(report.map(r => Json.obj(Seq(
          "check" -> Json.str(r.check), "table" -> Json.str(r.table),
          "column" -> Json.str(r.column), "violations" -> r.violations.toString))))
      } finally run.raw.unpersist()
    } finally quality += outcome
  }

  override def land(): Unit = cycle(history, new Steps(spans))

  def round: Seq[Op] = Seq(Op("cycle", steps => {
    val v = served.size % versions.size + 1
    served += v
    cycle(versions(v - 1), steps)
  }))

  override def probe(): Unit = {
    // each public stage function on its own, against a scratch sink so
    // the landed store keeps exactly the state the cycles produced;
    // fetch and ingest are forced through the noop sink, so every column
    // is parsed
    val fetch = versions(served.lastOption.getOrElse(1) - 1)
    val fetched = spans("marketpulse.fetch") {
      val df = Fetch.fetchDocuments(spark, tickers, new Fetch.StubFetcher(fetch))
      Workloads.force(df); df
    }
    val landed = spans("marketpulse.ingest") {
      val df = Ingest.readDocuments(spark, store); Workloads.force(df); df
    }
    val merged = spans("marketpulse.merge") {
      val df = DocumentMerge.mergeIncremental(landed.unionByName(fetched))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count(); df
    }
    spans("marketpulse.sink")(DocumentSink.writeDocuments(merged, s"$work/probe-store"))
    merged.unpersist()
  }

  override def layerValues: Map[String, Double] = sizes.toMap

  def check(out: String): Seq[(String, String)] = {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    sizes("marketpulse.store_bytes") = Workloads.dirBytes(store).toDouble
    sizes("marketpulse.tables_bytes") = Seq("stg_alphavantage", "dim_stock",
      "fact_stock_prices", "agg_weekly_prices")
      .map(t => Workloads.dirBytes(s"$warehouse/${prefix}_$t")).sum.toDouble
    Seq(
      "store" -> Json.str(store),
      "warehouse" -> Json.str(warehouse),
      "prefix" -> Json.str(prefix),
      "served" -> Json.arr(served.map(_.toString).toSeq),
      "quality" -> Json.arr(quality.toSeq))
  }
}
