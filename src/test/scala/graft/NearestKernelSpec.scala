package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** vec_nearest against the formulations it replaced, and the job budget
  * of the k-means/IVF builds that use it.
  *
  * The references are the crossJoin forms the IVF and k-means operators
  * ran before the kernel: a `max(struct(score, -cid))` argmax per id
  * (k = 1) and a `(score DESC NULLS LAST, cid)` row_number ≤ nprobe
  * window (k = nprobe), scored with the Catalyst cosine expression.
  */
class NearestKernelSpec extends SparkSpec {
  import spark.implicits._

  /** Small-integer components make exact score ties common; rows 0-2
    * repeat rows 6-8, row 4 is the zero vector (null score against
    * everything), row 5 overflows its dot products and norm to NaN
    * scores. */
  private def vectors(n: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val gen = (0 until n).map(_ => Seq.fill(3)((rnd.nextInt(5) - 2).toDouble))
    val rows = gen.zipWithIndex.map { case (v, i) =>
      val vec =
        if (i < 3 && n > 8) gen(i + 6)
        else if (i == 4) Seq(0.0, 0.0, 0.0)
        else if (i == 5) Seq(1e200, 1e200, 0.0)
        else v
      (i.toLong, vec)
    }
    rows.toDF("id", "v").withColumn("vnorm", Similarity.norm(col("v")))
  }

  private def score(digits: Option[Int]): org.apache.spark.sql.Column = {
    val s = Similarity.cosine(col("v"), col("cvec"), col("vnorm"), col("cnorm"))
    digits.fold(s)(d => round(s, d))
  }

  private def centroids(vs: DataFrame): DataFrame =
    vs.select(col("id").as("cid"), col("v").as("cvec"), col("vnorm").as("cnorm"))

  /** The whole centroid table as one row, the shape the operators
    * broadcast. */
  private def tableRow(cents: DataFrame): DataFrame =
    cents.agg(collect_list(struct("cid", "cvec", "cnorm")).as("t"))
      .select(expr("transform(t, s -> s.cid)").as("cids"),
        expr("transform(t, s -> s.cvec)").as("cvecs"),
        expr("transform(t, s -> s.cnorm)").as("cnorms"))

  private def kernel(vs: DataFrame, cents: DataFrame, k: Int,
      digits: Option[Int]): Map[Long, Seq[Long]] =
    vs.crossJoin(tableRow(cents))
      .selectExpr("id", "vec_nearest(v, vnorm, cids, cvecs, cnorms, " +
        s"$k, ${digits.getOrElse("NULL")}) AS ids")
      .as[(Long, Seq[Long])].collect().toMap

  private def argmaxRef(vs: DataFrame, cents: DataFrame,
      digits: Option[Int]): Map[Long, Seq[Long]] =
    vs.crossJoin(broadcast(cents))
      .select(col("id"), score(digits).as("cs"), col("cid"))
      .groupBy("id")
      .agg(max(struct(col("cs"), (-col("cid")).as("ncid"))).as("b"))
      .select(col("id"), (-col("b.ncid")).as("cid"))
      .as[(Long, Long)].collect().map { case (i, c) => i -> Seq(c) }.toMap

  private def probeRef(vs: DataFrame, cents: DataFrame, nprobe: Int,
      digits: Option[Int]): Map[Long, Seq[Long]] =
    vs.crossJoin(broadcast(cents))
      .select(col("id"), score(digits).as("csim"), col("cid"))
      .withColumn("crk", row_number().over(Window.partitionBy("id")
        .orderBy(desc_nulls_last("csim"), asc("cid"))))
      .filter(col("crk") <= nprobe)
      .select("id", "crk", "cid").as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (i, rs) => i -> rs.sortBy(_._2).map(_._3).toSeq }

  private def assertSame(got: Map[Long, Seq[Long]], want: Map[Long, Seq[Long]],
      what: String): Unit = {
    assert(got.keySet == want.keySet, what)
    want.keys.toSeq.sorted.find(i => got(i) != want(i)).foreach { i =>
      fail(s"$what: id $i kernel ${got(i)} vs reference ${want(i)}")
    }
  }

  private val digitChoices = Seq(Some(6), None)

  test("k = 1 equals the max(struct(score, -cid)) argmax, rounded and unrounded") {
    val vs = vectors(80, 11)
    val cents = centroids(vs.filter(col("id") < 12))
    digitChoices.foreach { d =>
      assertSame(kernel(vs, cents, 1, d), argmaxRef(vs, cents, d), s"argmax digits=$d")
    }
  }

  test("k = nprobe equals the row_number <= nprobe probe window") {
    val vs = vectors(80, 12)
    val cents = centroids(vs.filter(col("id") < 12))
    for (d <- digitChoices; nprobe <- Seq(2, 5, 12)) // 12 == nlist
      assertSame(kernel(vs, cents, nprobe, d), probeRef(vs, cents, nprobe, d),
        s"probes nprobe=$nprobe digits=$d")
  }

  test("more centroids than corpus rows, nprobe == nlist and beyond") {
    val vs = vectors(80, 13)
    val corpus = vs.filter(col("id") < 6)
    val cents = centroids(vs.filter(col("id") >= 3 && col("id") < 23))
    for (d <- digitChoices; nprobe <- Seq(1, 20, 25)) {
      val want =
        if (nprobe == 1) argmaxRef(corpus, cents, d)
        else probeRef(corpus, cents, nprobe, d)
      assertSame(kernel(corpus, cents, nprobe, d), want,
        s"small corpus nprobe=$nprobe digits=$d")
    }
  }

  test("interpreted and generated kernels agree") {
    val vs = vectors(80, 14)
    val cents = centroids(vs.filter(col("id") < 12))
    val generated = kernel(vs, cents, 4, Some(6))
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      assertSame(kernel(vs, cents, 4, Some(6)), generated, "interpreted")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("vec_nearest rejects a mistyped table and a non-literal k") {
    val vs = vectors(10, 15)
    val t = vs.crossJoin(tableRow(centroids(vs)))
    assertThrows[Exception](t.selectExpr("vec_nearest(v, vnorm, " +
      "transform(cids, c -> CAST(c AS STRING)), cvecs, cnorms, 1, 6)").collect())
    assertThrows[Exception](t.selectExpr(
      "vec_nearest(v, vnorm, cids, cvecs, cnorms, CAST(id AS INT), 6)").collect())
  }

  /** Jobs started while `f` runs. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    org.apache.spark.graftshim.ListenerBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val out = f
      org.apache.spark.graftshim.ListenerBus.drain(sc)
      (out, n.get())
    } finally sc.removeSparkListener(l)
  }

  test("llm_knn_ivf_kmeans builds in at most 1 + 3 x rounds jobs") {
    val (_, jobs) = jobsDuring(SparkEntry.queries("llm_knn_ivf_kmeans")(spark, sf0001))
    assert(jobs <= 10, s"construction ran $jobs jobs")
  }

  test("cluster assignment runs no job beyond the centroid collects and its write") {
    // llm_cluster_topics' staged assignment build, written here directly
    // so an earlier run of the query in this JVM cannot skip it
    val emb = sources.Catalog.table(spark, sf0001, "embeddings")
      .filter(col("vec_id") < 400)
    val (asg, trainJobs) = jobsDuring(
      Similarity.kmeansAssignments(emb, "vec_id", "embedding", nlist = 8, rounds = 3))
    assert(trainJobs <= 10, s"centroid training ran $trainJobs jobs")
    val out = Scratch.runDir("kmeans-asg-spec")
    val (_, writeJobs) = jobsDuring(
      asg.write.mode("overwrite").parquet(s"$out/asg.parquet"))
    assert(writeJobs == 1, s"assignment write ran $writeJobs jobs")
    assert(spark.read.parquet(s"$out/asg.parquet").count() == emb.count())
  }
}
