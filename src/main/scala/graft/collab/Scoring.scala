package graft.collab

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.recommendation.ALSModel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}

/** Batch prediction (ref: CollabFilterCassandra8.java:39-43 —
  * model.predict over all (user, product) validation pairs).
  *
  * `ml` predictions are FloatType; we cast to double before any RMSE math so
  * aggregate results hash-match double-precision oracles (SURVEY §7.4.5).
  *
  * Train once, predict many times: the reference keeps its
  * MatrixFactorizationModel in memory across predict calls. Here each
  * model's factor tables are PINNED on first use — collected to the driver
  * once, as id → factor tables, one broadcast per table — and every later
  * batch scores by lookup. `ALSModel.transform` instead re-plans two left
  * joins against the factor frames per call (for a loaded model: a rescan
  * of both factor parquet dirs and two broadcast builds, 3 jobs a batch).
  * Over a local batch (a `LocalRelation`, e.g. `Seq(...).toDF`) Catalyst's
  * ConvertToLocalRelation evaluates the scoring projection on the driver,
  * so a batch on a pinned model runs no Spark job at all.
  *
  * Pin rule: a model is pinned only when each factor table's payload
  * (4 bytes of id + 4 × rank bytes of factors per row) fits the session's
  * `spark.sql.autoBroadcastJoinThreshold` (default 10 MB) — the condition
  * under which the transform plan broadcasts the table anyway, and the
  * rule [[graft.ops.Caching]] pins memoized frames by. The size is
  * measured by a bounded `limit(n + 1).collect()`, not from plan
  * statistics (a freshly fitted model's factor frames carry no estimate).
  * Above the threshold, or with the threshold disabled (-1), scoring is
  * `model.transform` itself. Pins are keyed weakly on the model instance:
  * once the model is unreachable its entry goes, and Spark's
  * ContextCleaner drops the broadcasts.
  */
object Scoring {

  /** One factor table: `ids` sorted ascending, row i's factors at
    * `values(i * rank until (i + 1) * rank)`. */
  private final class Factors(val ids: Array[Int], val values: Array[Float],
      val rank: Int) extends Serializable {
    def offset(id: Int): Int = {
      val i = java.util.Arrays.binarySearch(ids, id)
      if (i < 0) -1 else i * rank
    }
    def bytes: Long = 4L * ids.length + 4L * values.length
  }

  private sealed trait Entry
  private final case class Pinned(users: Broadcast[Factors],
      items: Broadcast[Factors], tableBytes: Long, bytes: Long) extends Entry
  /** The tables did not fit under `threshold`; re-measured only when the
    * session's threshold grows past it. */
  private final case class TooLarge(threshold: Long) extends Entry

  private val pins = new java.util.WeakHashMap[ALSModel, Entry]()
  private val hitCount = new AtomicLong()
  private val missCount = new AtomicLong()
  private val transformCount = new AtomicLong()

  /** Pin-table counters: models and bytes pinned now (live models only),
    * calls served from an existing pin, calls that had to measure a model
    * (pinning it or finding it too large), calls scored by
    * `model.transform`. */
  final case class Stats(pinnedModels: Int, pinnedBytes: Long, hits: Long,
      misses: Long, transforms: Long)

  def stats: Stats = pins.synchronized {
    val live = pins.values().toArray.toSeq.collect { case p: Pinned => p }
    Stats(live.size, live.map(_.bytes).sum, hitCount.get, missCount.get,
      transformCount.get)
  }

  /** Score all (user, product) pairs of `pairs`; extra columns pass through.
    * Output adds `prediction: Double`. Unseen users or products drop
    * (coldStartStrategy=drop); null, non-integral or out-of-int-range ids
    * fail, as in `ALSModel.transform`. */
  def predict(model: ALSModel, pairs: DataFrame): DataFrame = {
    model.transformSchema(pairs.schema)
    pinFor(model, graft.ops.Caching.broadcastThreshold(pairs.sparkSession)) match {
      case Some(p) => scorePinned(model, p, pairs)
      case None =>
        transformCount.incrementAndGet()
        model.transform(pairs)
          .withColumn(model.getPredictionCol,
            col(model.getPredictionCol).cast(DoubleType))
    }
  }

  private def pinFor(model: ALSModel, threshold: Long): Option[Pinned] =
    if (threshold <= 0) None
    else pins.synchronized {
      pins.get(model) match {
        case p: Pinned if p.tableBytes <= threshold =>
          hitCount.incrementAndGet(); Some(p)
        case _: Pinned => None
        case TooLarge(t) if threshold <= t => None
        case _ =>
          missCount.incrementAndGet()
          val entry = measure(model, threshold)
          pins.put(model, entry)
          Some(entry).collect { case p: Pinned => p }
      }
    }

  /** Collect both factor tables when each fits `threshold`, reading at most
    * one row past the limit. The coalesce makes it one job per table: the
    * limit's incremental scan would take a job per 1, 4, 16… partitions. */
  private def measure(model: ALSModel, threshold: Long): Entry = {
    val rowBytes = 4L * (model.rank + 1)
    val maxRows = math.min(threshold / rowBytes, Int.MaxValue - 1L).toInt
    def table(df: DataFrame): Option[Factors] = {
      val rows = df.coalesce(1).limit(maxRows + 1).collect()
      if (rows.length > maxRows) None
      else {
        val sorted = rows.sortBy(_.getInt(0))
        Some(new Factors(sorted.map(_.getInt(0)),
          sorted.flatMap(_.getSeq[Float](1)), model.rank))
      }
    }
    val sc = model.userFactors.sparkSession.sparkContext
    (for (u <- table(model.userFactors); i <- table(model.itemFactors))
      yield Pinned(sc.broadcast(u), sc.broadcast(i),
        math.max(u.bytes, i.bytes), u.bytes + i.bytes))
      .getOrElse(TooLarge(threshold))
  }

  /** ALSModel's id check (ALSModelParams.checkIntegers): null, fractional
    * or out-of-int-range ids raise; numeric ids cast to Int, and the cast
    * column replaces the id column in the output, as in transform. */
  private def checkedId(pairs: DataFrame, name: String): Column = {
    val c = pairs(name)
    if (pairs.schema(name).dataType == IntegerType)
      when(c.isNull, raise_error(lit(s"$name Ids MUST NOT be Null")))
        .otherwise(c)
    else {
      val casted = c.cast(IntegerType)
      when(c.isNull || c =!= casted, raise_error(concat(
        lit("ALS only supports non-Null values in Integer range and " +
          s"without fractional part for column $name, but got "),
        c.cast(StringType)))).otherwise(casted)
    }
  }

  /** Lookup plus exactly ALSModel's predict arithmetic: a Float
    * accumulator over the rank in index order, cast to Double; NaN when
    * either id has no factors. */
  private def scorePinned(model: ALSModel, p: Pinned,
      pairs: DataFrame): DataFrame = {
    val (users, items) = (p.users, p.items)
    val dot = udf { (user: Int, item: Int) =>
      val uf = users.value
      val itf = items.value
      val a = uf.offset(user)
      val b = itf.offset(item)
      if (a < 0 || b < 0) Double.NaN
      else {
        var d = 0.0f
        var k = 0
        while (k < uf.rank) { d += uf.values(a + k) * itf.values(b + k); k += 1 }
        d.toDouble
      }
    }
    val (u, i) = (model.getUserCol, model.getItemCol)
    val scored = pairs
      .withColumns(Map(u -> checkedId(pairs, u), i -> checkedId(pairs, i)))
      .withColumn(model.getPredictionCol, dot(col(u), col(i)))
    if (model.getColdStartStrategy == "drop")
      scored.filter(!isnan(col(model.getPredictionCol)))
    else scored
  }
}
