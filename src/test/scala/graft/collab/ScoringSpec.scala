package graft.collab

import graft.SparkSpec
import org.apache.spark.ml.recommendation.ALSModel
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Scoring.predict]] against `ALSModel.transform` itself: the same
  * multiset of rows, predictions compared bit for bit, on every shape of
  * pair frame; and the pin's structure (no job for a local batch on a
  * pinned model, one pin per model instance). */
class ScoringSpec extends SparkSpec {
  import spark.implicits._

  private lazy val ratings: DataFrame = {
    val rnd = new scala.util.Random(7)
    (0 until 3000).map { _ =>
      val u = rnd.nextInt(200)
      val p = rnd.nextInt(40)
      (u, p, ((u * 7 + p * 3) % 5 + 1).toDouble)
    }.distinct.toDF(Schemas.UserCol, Schemas.ProductCol, Schemas.RatingCol)
  }

  private lazy val model: ALSModel = Training.train(ratings, maxIter = 5)

  /** Random pairs over ids 0..209 × 0..44: a few users and products the
    * model never saw (200..209, 40..44). */
  private def randomPairs(n: Int, seed: Int): Seq[(Int, Int)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)((rnd.nextInt(210), rnd.nextInt(45)))
  }

  private def reference(m: ALSModel, pairs: DataFrame): DataFrame =
    m.transform(pairs).withColumn("prediction", col("prediction").cast("double"))

  /** Rows as a multiset, doubles by their bits. */
  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    }).groupBy(identity).map { case (k, v) => k -> v.size }

  private def assertParity(m: ALSModel, pairs: DataFrame): Unit = {
    val got = Scoring.predict(m, pairs)
    val want = reference(m, pairs)
    assert(got.schema.map(f => (f.name, f.dataType)) ===
      want.schema.map(f => (f.name, f.dataType)))
    assert(bag(got) === bag(want))
  }

  /** Spark jobs started while `body` runs. Listener events arrive
    * asynchronously, so a marker job before and after fences the count. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    /** Runs a marker job, then drains the queue up to it; returns how many
      * other jobs started before it. */
    def fence(name: String): Int = {
      sc.setJobGroup(name, name)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      var n = 0
      var g = seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      while (g != name) {
        assert(g != null, s"listener never saw the $name marker job")
        n += 1
        g = seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      }
      n
    }
    sc.addSparkListener(listener)
    try {
      fence("scoring-spec-start")
      body
      fence("scoring-spec-end")
    } finally sc.removeSparkListener(listener)
  }

  private def withThreshold[T](v: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try body
    finally old match {
      case Some(o) => spark.conf.set(key, o)
      case None => spark.conf.unset(key)
    }
  }

  test("distributed pair frame: bit-identical to model.transform") {
    val before = Scoring.stats
    assertParity(model, randomPairs(5000, 1).toDF(Schemas.UserCol,
      Schemas.ProductCol).repartition(3))
    assert(Scoring.stats.transforms === before.transforms, "scored by the pin")
  }

  test("local batch: bit-identical to model.transform") {
    val before = Scoring.stats
    assertParity(model, randomPairs(500, 2).toDF(Schemas.UserCol,
      Schemas.ProductCol))
    assert(Scoring.stats.transforms === before.transforms, "scored by the pin")
  }

  test("unseen users and unseen products drop, like coldStartStrategy=drop") {
    val pairs = Seq((1, 1), (205, 1), (1, 42), (205, 42), (-3, 0), (2, 3))
      .toDF(Schemas.UserCol, Schemas.ProductCol)
    assertParity(model, pairs)
    assertParity(model, pairs.repartition(2))
    assert(Scoring.predict(model, pairs).select(Schemas.UserCol,
      Schemas.ProductCol).as[(Int, Int)].collect().toSet === Set((1, 1), (2, 3)))
  }

  test("null ids fail, as in model.transform") {
    val pairs = Seq((Some(1), Some(1)), (None, Some(1)), (Some(2), None))
      .toDF(Schemas.UserCol, Schemas.ProductCol)
    for (p <- Seq(pairs, pairs.repartition(2))) {
      intercept[Exception](reference(model, p).collect())
      val e = intercept[Exception](Scoring.predict(model, p).collect())
      assert(e.getMessage.contains("Ids MUST NOT be Null"))
    }
  }

  test("extra columns pass through in order") {
    val pairs = randomPairs(300, 3).zipWithIndex.map { case ((u, p), i) =>
      (s"row$i", u, i * 0.5, p)
    }.toDF("tag", Schemas.UserCol, "weight", Schemas.ProductCol)
    assertParity(model, pairs)
    assertParity(model, pairs.repartition(2))
    assert(Scoring.predict(model, pairs).columns.toSeq ===
      Seq("tag", Schemas.UserCol, "weight", Schemas.ProductCol, "prediction"))
  }

  test("non-integral or out-of-int-range ids fail; integral ones score") {
    val frac = Seq((1.5, 1.0)).toDF(Schemas.UserCol, Schemas.ProductCol)
    val big = Seq((1L << 40, 1L)).toDF(Schemas.UserCol, Schemas.ProductCol)
    for (p <- Seq(frac, big, frac.repartition(1), big.repartition(1))) {
      intercept[Exception](reference(model, p).collect())
      intercept[Exception](Scoring.predict(model, p).collect())
    }
    assertParity(model, Seq((1L, 1L), (2L, 3L), (300L, 1L))
      .toDF(Schemas.UserCol, Schemas.ProductCol))
    assertParity(model, Seq((1.0, 1.0), (2.0, 3.0))
      .toDF(Schemas.UserCol, Schemas.ProductCol).repartition(2))
    intercept[IllegalArgumentException](Scoring.predict(model,
      Seq(("a", "b")).toDF(Schemas.UserCol, Schemas.ProductCol)))
  }

  test("autoBroadcastJoinThreshold=-1 takes the model.transform branch") {
    val pairs = randomPairs(400, 4).toDF(Schemas.UserCol, Schemas.ProductCol)
    withThreshold("-1") {
      val before = Scoring.stats
      assertParity(model, pairs)
      assertParity(model, pairs.repartition(2))
      val after = Scoring.stats
      assert(after.transforms - before.transforms === 2)
      assert(after.hits === before.hits && after.misses === before.misses)
    }
  }

  test("factor tables above the threshold take the model.transform branch") {
    val m = Training.train(ratings, maxIter = 2)
    val pairs = randomPairs(200, 5).toDF(Schemas.UserCol, Schemas.ProductCol)
    withThreshold("100b") {
      val before = Scoring.stats
      assertParity(m, pairs)
      assertParity(m, pairs)
      val after = Scoring.stats
      assert(after.misses - before.misses === 1, "measured once, then remembered")
      assert(after.transforms - before.transforms === 2)
    }
    // a larger threshold re-measures and pins
    val before = Scoring.stats
    assertParity(m, pairs)
    assert(Scoring.stats.misses - before.misses === 1)
    assert(Scoring.stats.transforms === before.transforms)
  }

  test("a pinned model scores a second local batch with no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("als-score")
    try {
      Training.save(model, dir.toString)
      val loaded = Training.load(dir.toString)
      def batch(seed: Int) = randomPairs(2000, seed)
        .toDF(Schemas.UserCol, Schemas.ProductCol)
      val s0 = Scoring.stats
      val first = jobsDuring(Scoring.predict(loaded, batch(10)).collect())
      val s1 = Scoring.stats
      assert(s1.misses - s0.misses === 1 && s1.hits === s0.hits)
      assert(first > 0, "the first batch collects the factor tables")
      val second = jobsDuring(Scoring.predict(loaded, batch(11)).collect())
      val third = jobsDuring(Scoring.predict(loaded, batch(12)).collect())
      assert(second === 0 && third === 0)
      val s2 = Scoring.stats
      assert(s2.misses === s1.misses && s2.hits - s1.hits === 2)
      assert(s2.pinnedModels >= 1 && s2.pinnedBytes > 0)
      assertParity(loaded, batch(13))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a second model gets its own pin, not the first model's") {
    val pairs = randomPairs(1000, 20).toDF(Schemas.UserCol, Schemas.ProductCol)
    val other = Training.train(ratings, maxIter = 5, seed = 99L)
    Scoring.predict(model, pairs).collect()
    val before = Scoring.stats
    assertParity(other, pairs)
    assert(Scoring.stats.misses - before.misses === 1)
    assert(bag(Scoring.predict(other, pairs)) !== bag(Scoring.predict(model, pairs)),
      "two differently seeded models score differently")
  }
}
