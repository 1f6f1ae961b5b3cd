package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.collab._

/** The benchmark's single JVM: one SparkSession on local[cpus], one
  * closed-loop client (this thread), one workload per process.
  *
  *   java perfbench.Harness workload=<name> inputs=<dir> work=<dir>
  *     seconds=<s> trace=<0|1> cpus=<n> out=<record.json>
  *
  * It reads only the generated inputs, writes only under `work`, and dumps
  * one record (setup times, every operation, the trace, the outputs the
  * checks need) to `out`. perfbench/run.py turns the record into metrics
  * and runs the checks; nothing here judges correctness. */
object Harness {
  private def since(t: Long): Double = (System.nanoTime() - t) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val cpus = a("cpus")
    val work = a("work")
    val rec = new Recorder(a("trace") == "1")
    val t0 = System.nanoTime()
    implicit val spark: SparkSession = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a("workload")}")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    rec.install(spark)
    val sessionS = since(t0)
    val w = a("workload") match {
      case "cf_pipeline" => new CfPipeline(a, rec)
      case "relational_mix" => new RelationalMix(a, rec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    rec.active = rec.tracing
    val ta = System.nanoTime()
    rec.span("setup.artifacts")(w.artifacts())
    val artifactsS = since(ta)
    val tw = System.nanoTime()
    rec.span("setup.warm")(w.warm())
    val warmS = since(tw)
    rec.active = false
    val seconds = a("seconds").toDouble
    val win0 = rec.nowMs
    w.measure(win0 + seconds * 1000)
    val win1 = rec.nowMs
    val peakRssKb = procStatus("VmHWM")
    val outputs = w.outputs()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val conf = spark.sparkContext.getConf.getAll.toSeq.sorted.toMap
    val record = Map(
      "workload" -> a("workload"),
      "setup" -> Map("session_s" -> sessionS, "artifacts_s" -> artifactsS,
        "warm_s" -> warmS),
      "window_ms" -> Seq(win0, win1),
      "peak_rss_kb" -> peakRssKb,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_conf" -> conf,
      "outputs" -> outputs) ++ rec.toJson
    Files.writeString(Paths.get(a("out")), Json(record))
    spark.stop()
  }

  private def procStatus(key: String): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    catch { case scala.util.control.NonFatal(_) => -1L }

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum
      finally s.close()
    }
  }
}

/** A workload: standing-artifact builds, a warm pass (both setup), the
  * measured closed loop until `deadlineMs`, then the outputs the checks
  * read (produced outside the timed region). */
trait Workload {
  def artifacts(): Unit = ()
  def warm(): Unit
  def measure(deadlineMs: Double): Unit
  def outputs(): Map[String, Any]
}

/** The paper's pipeline through graft.collab: populate -> scan -> ALS train
  * (rank 6, 20 iterations) -> save -> score -> validate -> report, then
  * seeded scoring batches against the saved model. */
final class CfPipeline(a: Map[String, String], rec: Recorder)(
    implicit spark: SparkSession) extends Workload {
  import spark.implicits._
  private val csv = s"${a("inputs")}/ratings.csv"
  private val store = new ParquetTableStore(spark, s"${a("work")}/store")
  private val modelDir = s"${a("work")}/model"
  private val trainRatings = a("train_ratings").toDouble
  private val batches: IndexedSeq[Seq[(Int, Int)]] =
    spark.read.parquet(s"${a("inputs")}/pairs.parquet").collect()
      .groupBy(_.getInt(0)).toIndexedSeq.sortBy(_._1)
      .map(_._2.toSeq.map(r => (r.getInt(1), r.getInt(2))))
  private val rmses = ArrayBuffer[Double]()
  private var report = ""
  private val scored = ArrayBuffer[Seq[Any]]()
  private var batchNo = 0

  private def pass(): Unit = {
    rec.span("collab.ingest")(Ingest.populate(spark, store, csv))
    val train = rec.span("collab.scan")(store.scan(Schemas.RatingsTable)
      .select(Schemas.UserCol, Schemas.ProductCol, Schemas.RatingCol))
    val valid = rec.span("collab.scan")(store.scan(Schemas.ValidationTable)
      .select(Schemas.UserCol, Schemas.ProductCol, Schemas.RatingCol).cache())
    val model = rec.span("collab.train")(Training.train(train))
    rec.span("collab.save")(Training.save(model, modelDir))
    val predictions = rec.span("collab.score")(Scoring.predict(model,
      valid.select(Schemas.UserCol, Schemas.ProductCol)))
    val joined = rec.span("collab.validate")(
      Validation.joined(valid, predictions).cache())
    val rmse = rec.span("collab.validate")(Validation.rmse(joined))
    report = rec.span("collab.report")(Report.resultsReport(joined, rmse))
    joined.unpersist()
    valid.unpersist()
    rmses += rmse
  }

  private def score(model: org.apache.spark.ml.recommendation.ALSModel): Unit = {
    val i = batchNo % batches.size
    batchNo += 1
    val pairs = batches(i).toDF(Schemas.UserCol, Schemas.ProductCol)
    val rows = rec.span("collab.score")(Scoring.predict(model, pairs)
      .select(Schemas.PredictionCol).collect())
    val bad = rows.count(r => r.isNullAt(0) || r.getDouble(0).isNaN)
    scored += Seq(i, rows.length, bad)
  }

  /** Two passes, then 40 scoring batches: a window after one warm pass ran
    * its first pass up to ~15% slower than its second, and a batch's
    * latency fell by a quarter over the first 40 batches of a run. */
  def warm(): Unit = {
    pass(); pass()
    val model = rec.span("collab.load")(Training.load(modelDir))
    (0 until 40).foreach(_ => score(model))
    rmses.clear(); scored.clear(); batchNo = 0
  }

  /** Two pipeline passes (the throughput operation), then scoring batches
    * until the deadline. A fixed pass count keeps throughput comparable:
    * a time-boxed loop runs a varying number of passes depending on speed,
    * and a run's later passes are faster than its first. */
  def measure(deadlineMs: Double): Unit = {
    for (_ <- 1 to 2)
      rec.op("pass", "pipeline", trainRatings, traced = true)(pass())
    val model = rec.op("load", "model", 0, traced = true)(
      rec.span("collab.load")(Training.load(modelDir)))
    var n = 0
    model.foreach { m =>
      while (rec.nowMs < deadlineMs || n < 10) {
        rec.op("score", "batch", batches(batchNo % batches.size).size,
          traced = n % 2 == 0)(score(m))
        n += 1
      }
    }
  }

  def outputs(): Map[String, Any] = Map(
    "rmse" -> rmses.toSeq,
    "report" -> report,
    "scored" -> scored.toSeq,
    "store_bytes" -> Harness.dirBytes(s"${a("work")}/store"))
}

/** A frozen list of q_* registry rows on generated tables, one seeded
  * order per pass; every pass is run to its end. */
final class RelationalMix(a: Map[String, String], rec: Recorder)(
    implicit spark: SparkSession) extends Workload {
  private val dir = s"${a("inputs")}/tables"
  private val passes: IndexedSeq[Seq[String]] =
    Files.readAllLines(Paths.get(s"${a("inputs")}/order.txt")).asScala
      .filter(_.nonEmpty).map(_.split(",").toSeq).toIndexedSeq
  private val names = passes.head.sorted
  private val registry = SparkEntry.queries

  private def call(name: String): Long = {
    val df = rec.span("registry.build")(registry(name)(spark, dir))
    rec.span("registry.action")(df.count())
  }

  /** Four passes: the first compiles every plan, the rest let the JIT
    * settle (after two warm passes, a window's pass rate still rose by
    * ~15% from its first pass to its eighth). */
  def warm(): Unit = for (_ <- 1 to 4; n <- names) call(n)

  def measure(deadlineMs: Double): Unit = {
    var p = 0
    var i = 0
    while (rec.nowMs < deadlineMs) {
      for (n <- passes(p % passes.size)) {
        rec.op("query", n, 1, traced = i % 2 == 0)(call(n))
        i += 1
      }
      p += 1
    }
  }

  /** Every row's full result as parquet plus the oracle SQL, in the layout
    * tools/check_oracle.py reads (the same as graft.Verify writes). */
  def outputs(): Map[String, Any] = {
    val out = s"${a("work")}/oracle_out"
    val failed = ArrayBuffer[String]()
    for (n <- names)
      try registry(n)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$n")
      catch { case scala.util.control.NonFatal(e) =>
        failed += s"$n: ${e.getClass.getName}: ${e.getMessage}"
      }
    val sql = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json(sql))
    Map("oracle_out" -> out, "write_failures" -> failed.toSeq)
  }
}
