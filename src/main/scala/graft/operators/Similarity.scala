package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

import graft.plans.{NormExpr, VectorExprs}

/** Vector similarity search over an embedding column (SURVEY.md §2.11).
  *
  * Two paths, same API:
  *  - `cosineTopK`: brute-force scan — the exactness baseline. The
  *    query side broadcasts, so the plan is a BroadcastNestedLoopJoin:
  *    one linear pass over the corpus per batch of queries, no shuffle
  *    of the big side. Right answer for few queries × huge corpus.
  *  - `lshTopK`: sign-random-projection LSH — corpus and queries get a
  *    b-bit signature from deterministic xxhash64-derived ±1
  *    projections; candidates are signature-equal rows (hash equi-join,
  *    shuffle on the bucket only), then exact cosine re-ranks. The
  *    100 TB path: candidate set per query is the bucket, not the
  *    corpus.
  *
  * All math is higher-order-function Column expressions on
  * array<double> — codegen'd, null-safe, no UDFs.
  */
object Similarity {

  /** Σ a[i]*b[i] as a sequential fold (deterministic order; native
    * expression — see graft.plans.VectorExprs for why not HOFs). */
  def dot(a: Column, b: Column): Column = graft.plans.VectorExprs.dot(a, b)

  def norm(a: Column): Column = graft.plans.VectorExprs.norm(a)

  /** Cosine similarity; null (not an ANSI divide-by-zero crash) for
    * zero-norm vectors — one junk embedding must not kill a
    * corpus-wide job. Null sims sort after real ones under desc. */
  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / nullif(normA * normB, lit(0.0))

  /** Exact top-k neighbours for each query row.
    *
    * Ranking happens on the 6-digit-rounded similarity with the
    * neighbour id as tiebreak, so results are reproducible across
    * engines that disagree in the last float ulp.
    *
    * A zero vector or one whose length differs from the other side's
    * scores null against it (spec-pinned). Null-scored neighbours still
    * fill the k slots, after every scored one, by ascending id.
    */
  def cosineTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(
      col(idCol).as("nid"), col(vecCol).cast("array<double>").as("nvec"))
      .withColumn("nnorm", norm(col("nvec")))
    val q = queries.select(
      col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qvec"))
      .withColumn("qnorm", norm(col("qvec")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim",
        round(cosine(col("qvec"), col("nvec"), col("qnorm"), col("nnorm")), 6))
    // Plain per-qid top-k over SLIM (qid, nid, sim) rows. The per-query
    // reducer funnel a naive window implies is handled by Spark's
    // WindowGroupLimit (plan-asserted): the rank-limit filter prunes to
    // ≤k rows per qid on the MAP side, so the exchange carries at most
    // Q×k×partitions slim rows — never the corpus — and the reduce side
    // ranks ≤ k×partitions rows per query. (The salted two-phase
    // TopN.saltedRowNumber remains the tool for LOW-cardinality keys,
    // where group-limit map pruning cannot bound the hot key's single
    // reduce partition.)
    topKPlain(scored.select("qid", "nid", "sim"), k)
  }

  /** IVF (inverted-file) approximate top-k — the other classic scale
    * path beside LSH.
    *
    * Build: `nlist` centroids are the corpus vectors with the smallest
    * xxhash64(id) — a deterministic uniform sample, no training step,
    * no stored model, identical on every executor — collected to the
    * driver once. Every corpus vector keeps its nearest centroid (the
    * vec_nearest kernel, map-side). Search: each query probes its
    * `nprobe` nearest centroids and re-ranks exactly inside those
    * inverted lists only.
    *
    * At 100 TB: assignment is one map-side pass over the corpus against
    * the broadcast centroid table (in a real index the inverted lists
    * are written once and reused across query batches); at search time
    * the corpus is never shuffled — the (tiny) query probe set
    * broadcasts onto the assignment, and a query touches ~nprobe/nlist
    * of the corpus. nprobe == nlist degrades gracefully to exact brute
    * force (spec-pinned). `idCol` must be a key (unique, non-null).
    *
    * SIZING (the knobs are corpus-scale parameters, not constants):
    * nlist ≈ √N — balances list length (N/nlist rows re-ranked per
    * probe) against centroid-scan cost (nlist comparisons per query),
    * the standard IVF rule. The fixture default 32 ≈ √(500·2); at 1 B
    * vectors use nlist ≈ 32k and keep the centroid table broadcastable
    * (32k × dim doubles ≈ a few hundred MB at dim 768 — shard the
    * table when past that). Recall is governed by nprobe/nlist, NOT by
    * nlist itself — hold the ratio as nlist grows with the corpus
    * (spec-pinned: growing nlist at fixed ratio keeps recall), and
    * raise nprobe when recall matters more than latency.
    *
    * DEFAULT nprobe ≈ nlist/16 (6% probe fraction — ScaleBench's
    * standing rule), now with measured evidence (ScaleBench `ivf_recall`,
    * ×100 corpus: 200k × dim-64, nlist=447, 1000 queries vs brute-force
    * ground truth): recall@10 = 0.9882 at nprobe=9 (2%), 0.9998 at
    * nprobe=27 (6%), 1.0000 at nprobe=81 (18%), with cost linear in
    * the probe fraction past the fixed assignment stage. nlist/16 sits
    * at the knee: ~4-nines recall for ~1/3 the nprobe=81 re-rank
    * stream. Caveat: the replica-derived ×100 corpus clusters tightly
    * (a vector's true neighbours share its centroid), so treat these
    * as upper bounds and re-run `ivf_recall` when embedding geometry
    * changes materially.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 32, nprobe: Int = 4): DataFrame = {
    require(nlist > 0, "ivfTopK needs nlist >= 1")
    val c = corpus.select(
      col(idCol).as("nid"), col(vecCol).cast("array<double>").as("nvec"))
    val cents = c.orderBy(xxhash64(col("nid")), col("nid")).limit(nlist)
      .select(col("nid").cast("long"), col("nvec"))
      .collect().toIndexedSeq.map(r => (r.getLong(0), vecOf(r, 1)))
    ivfSearch(c, cents, queries, idCol, vecCol, k, nprobe)
  }

  /** kmeans-TRAINED centroids for IVF — the learned-centroid build a
    * real ANN serving index runs, replacing ivfTopK's sampled anchors.
    * Init = the `nlist` lowest-id corpus vectors keyed to dense cids
    * 0..nlist−1, then `rounds` Lloyd iterations: assign every vector
    * to its argmax-rounded-cosine centroid (ties to the smallest cid),
    * recompute each centroid as the per-dimension MEAN of its members
    * ROUNDED to 6 decimals (the pqTrainEncode oracle technique:
    * rounding makes the trained model engine-independent, so DuckDB
    * re-derives the identical centroid table via one CTE pair per
    * round), and keep the previous centroid for a cluster that lost
    * all members (the oracle's LEFT JOIN + coalesce). The table lives
    * on the driver between rounds; the result is a local relation of
    * (cid, cvec).
    *
    * At 100 TB: each round is one corpus scan plus one slim
    * (cid, i) aggregate — the vec_nearest kernel assigns map-side
    * against the broadcast table, posexplode + partial aggregation
    * collapse each partition to ≤ nlist × dim rows before the
    * exchange, and the ≤ nlist × dim means are collected. The
    * centroid table on the driver is the same bytes the broadcast
    * already ships; training is a build-time step whose output is the
    * reusable index artifact. `idCol` must be a key (unique, non-null):
    * assignment is per row, which equals a per-id argmax only when ids
    * do not repeat. */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, rounds: Int): DataFrame = {
    val spark = corpus.sparkSession
    val rows = kmeansTrain(corpus, idCol, vecCol, nlist, rounds)
      .map { case (cid, v) => Row(cid, v) }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("cid", LongType, nullable = false),
      StructField("cvec", ArrayType(DoubleType)))))
  }

  /** Final cluster assignment against kmeans-trained centroids —
    * (id, cluster). The corpus-organization primitive topic
    * attribution builds on: one map-side kernel pass against the
    * broadcast ≤ nlist centroid table, no shuffle. */
  def kmeansAssignments(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, rounds: Int): DataFrame = {
    val tbl = centroidTable(corpus.sparkSession,
      kmeansTrain(corpus, idCol, vecCol, nlist, rounds))
    corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .select(col("id"),
        nearestCids(col("v"), norm(col("v")), tbl, 1, Some(6))
          .getItem(0).as("cluster"))
  }

  /** IVF search over kmeans-trained centroids — the same search as
    * ivfTopK, with the learned centroid table in place of the sampled
    * anchors. */
  def ivfTopKTrained(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 32, nprobe: Int = 4, rounds: Int = 3): DataFrame = {
    val c = corpus.select(
      col(idCol).as("nid"), col(vecCol).cast("array<double>").as("nvec"))
    ivfSearch(c, kmeansTrain(corpus, idCol, vecCol, nlist, rounds),
      queries, idCol, vecCol, k, nprobe)
  }

  /** A centroid table held on the driver: (cid, vector) with the
    * vector as collected — null, or a Seq whose elements may be null. */
  private type Centroids = IndexedSeq[(Long, Seq[Any])]

  private def vecOf(r: Row, i: Int): Seq[Any] =
    if (r.isNullAt(i)) null else r.getSeq[Any](i)

  /** The Lloyd loop behind kmeansCentroids: one collect for the init,
    * then one query per round (kernel cid → posexplode → per-(cid, i)
    * rounded mean → collect). */
  private def kmeansTrain(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, rounds: Int): Centroids = {
    require(nlist > 0, "k-means needs nlist >= 1")
    val v = corpus.select(
      col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
    var cents: Centroids = v.orderBy("vec_id").limit(nlist).select("v")
      .collect().toIndexedSeq.zipWithIndex
      .map { case (r, i) => (i.toLong, vecOf(r, 0)) }
    (1 to rounds).foreach { _ =>
      val tbl = centroidTable(corpus.sparkSession, cents)
      // the cid is projected below the posexplode: in one select it
      // would be re-scored once per exploded element
      val means = v
        .select(col("v"), nearestCids(col("v"), norm(col("v")), tbl, 1, Some(6))
          .getItem(0).as("cid"))
        .select(col("cid"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("cid", "i")
        .agg(round(avg("x"), 6).as("cx"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rs) =>
          cid -> rs.sortBy(_.getInt(1)).map(r => r.get(2)).toSeq }
      cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    cents
  }

  private val CentroidTableType = StructType(Seq(
    StructField("cids", ArrayType(LongType, containsNull = false)),
    StructField("cvecs", ArrayType(ArrayType(DoubleType))),
    StructField("cnorms", ArrayType(DoubleType))))

  /** The centroid table as one broadcast row (cids, cvecs, cnorms),
    * the norms computed here with NormExpr's fold. */
  private def centroidTable(spark: SparkSession, cents: Centroids): Column = {
    val cvecs = cents.map { case (_, v) =>
      if (v == null) null else new GenericArrayData(v.toArray) }
    val cnorms = cvecs.map(a => if (a == null) null else NormExpr.of(a))
    VectorExprs.broadcastRow(spark, CentroidTableType, InternalRow(
      ArrayData.toArrayData(cents.map(_._1).toArray),
      new GenericArrayData(cvecs.toArray[Any]),
      new GenericArrayData(cnorms.toArray[Any])))
  }

  private def nearestCids(v: Column, vnorm: Column, tbl: Column, k: Int,
      digits: Option[Int]): Column =
    VectorExprs.nearest(v, vnorm, tbl.getField("cids"), tbl.getField("cvecs"),
      tbl.getField("cnorms"), k, digits)

  /** The IVF assign/probe/re-rank plan shared by the sampled-anchor and
    * kmeans-trained builds. `c` = (nid, nvec) corpus; `cents` = the
    * driver-held centroid table.
    *
    * At 100 TB: assignment (k = 1) and probes (k = nprobe) are
    * vec_nearest columns over the unrounded cosine, computed in the
    * corpus and query scans against one broadcast row — the same
    * ≤ nlist × dim doubles the driver collected. There is no N×nlist
    * score stream, no argmax shuffle and no rejoin of the vectors
    * (at 200k × 447 centroids, dim 64, a window over the joined
    * vectors took 292 s and a slim argmax aggregate ~8 s). Only the
    * probed candidates reach the re-rank's exchange. `idCol` must be a
    * key (unique, non-null). */
  private def ivfSearch(
      c: DataFrame, cents: Centroids, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val tbl = centroidTable(c.sparkSession, cents)
    val assigned = c.withColumn("nnorm", norm(col("nvec")))
      .withColumn("cid",
        nearestCids(col("nvec"), col("nnorm"), tbl, 1, None).getItem(0))
    val probes = queries.select(
      col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qvec"))
      .withColumn("qnorm", norm(col("qvec")))
      .withColumn("cid", explode(
        nearestCids(col("qvec"), col("qnorm"), tbl, nprobe, None)))
    val scored = assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim",
        round(cosine(col("qvec"), col("nvec"), col("qnorm"), col("nnorm")), 6))
    // Final top-k: PLAIN window over slim (qid, nid, sim) rows — qid is
    // high-cardinality (one group per query), so there is no reducer
    // funnel to salt away, and salting would DEFEAT Spark's
    // WindowGroupLimit: with qid×salt micro-groups spread over every
    // map partition the partial limit prunes nothing, and the full
    // candidate stream gets sort-shuffled twice (measured: ~380 s of a
    // 522 s run at 123M candidates). The plain rank-limit filter lets
    // WindowGroupLimit keep ≤k rows per qid per map partition before
    // the exchange (123M → ~3M rows shuffled; 522 s → 365 s end-to-end,
    // now dominated by the candidate-pair stream itself — scoring 123M
    // pairs costs ~140 s before any ranking; shrink it with the nprobe
    // dial, not the rank stage). Salting belongs to LOW-cardinality
    // keys (TopN.saltedRowNumber's documented domain, per-lang quotas).
    topKPlain(scored.select("qid", "nid", "sim"), k)
  }

  /** Plain per-qid top-k over slim (qid, nid, sim) rows — the
    * high-cardinality-key rank stage shared by the ANN ops. */
  private def topKPlain(slim: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("nid"))
    slim.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("sim"))
  }

  /** b-bit sign-random-projection signature. Projection matrix entries
    * are ±1 derived from xxhash64(bit·γ + dim) — deterministic, no
    * stored model, identical on every executor (native expression:
    * one pass per row instead of `bits` interpreted HOF folds). */
  def srpSignature(vec: Column, bits: Int): Column =
    graft.plans.VectorExprs.srpSign(vec, bits)

  /** All pairs with cosine similarity above `threshold`, via banded
    * SRP-LSH candidate generation + exact verify — the same
    * candidates-then-verify shape as the MinHash text pipeline, with
    * no crossJoin anywhere in the plan.
    *
    * One signature of bands×bitsPerBand total bits per vector; band k
    * is its bit-slice. A pair is a candidate when ANY band slice
    * matches (miss probability (1 − p^r)^bands for per-bit agreement
    * p = 1 − θ/π). Candidates travel as slim (band, bucket, id) rows —
    * the vectors are joined back by id only for the ≤|candidates|
    * exact-verify stage, so the wide rows never fan out ×bands.
    *
    * bitsPerBand is the selectivity dial: real near-dup thresholds
    * (≥0.9) use 4-8 bits — 16-256 buckets per band and candidate
    * volume collapses toward the true-pair count. A LOW threshold like
    * the fixture's 0.2 on near-random vectors forces 1-bit bands to
    * keep recall (p ≈ 0.56 per bit), where bucketing degenerates to
    * halves — threshold similarity join below ~0.5 is structurally
    * LSH-hostile, and the right scale tool is the kNN operators
    * (lshTopK/ivfTopK) beside this one. The SHAPE here is the one that
    * scales; the parameters say when it pays. */
  def neardupPairs(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      bands: Int = 16, bitsPerBand: Int = 1): DataFrame = {
    require(bands * bitsPerBand <= 63, "bands*bitsPerBand must fit a long")
    val mask = (1L << bitsPerBand) - 1
    val base = df.select(
      col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("sig", srpSignature(col("v"), bands * bitsPerBand))
    val slim = base.select(col("id"),
      posexplode(array((0 until bands).map(k =>
        shiftright(col("sig"), k * bitsPerBand).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bkt")))
    val cand = slim.select(col("band"), col("bkt"), col("id").as("id_a"))
      .join(slim.select(col("band"), col("bkt"), col("id").as("id_b")),
        Seq("band", "bkt"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    cand
      .join(base.select(col("id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("va"), col("vb"), col("na"), col("nb")), 6).as("sim"))
      .filter(col("sim") > threshold)
  }

  /** Approximate top-k: candidates share the LSH bucket, exact cosine
    * re-ranks inside it. Recall rises with fewer bits / multi-probe;
    * 12 bits ≈ 4096 buckets is a reasonable sf-test default.
    *
    * SIZING: bits ≈ log2(N / targetBucketRows) — each added bit halves
    * the expected bucket, so hold N/2^bits (the re-rank cost per
    * query) constant as the corpus grows: ~1 M vectors per 256-row
    * bucket wants 12 bits, 1 B wants ~22. Recall at fixed bits falls
    * as buckets shrink; compensate with banding (neardupPairs-style
    * multi-band OR multi-probe neighbors at hamming distance 1).
    *
    * Every row it returns carries cosineTopK's exact score for that
    * pair, so zero and mismatched-length vectors score null here too
    * (spec-pinned); which of them share a bucket is up to the
    * projection. */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, bits: Int = 12): DataFrame = {
    val c = corpus.select(
      col(idCol).as("nid"), col(vecCol).cast("array<double>").as("nvec"))
      .withColumn("nnorm", norm(col("nvec")))
      .withColumn("bucket", srpSignature(col("nvec"), bits))
    val q = queries.select(
      col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qvec"))
      .withColumn("qnorm", norm(col("qvec")))
      .withColumn("bucket", srpSignature(col("qvec"), bits))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim",
        round(cosine(col("qvec"), col("nvec"), col("qnorm"), col("nnorm")), 6))
    // Plain high-cardinality-key top-k (see ivfTopK): per-qid
    // candidates are bucket-bounded (~N/2^bits), WindowGroupLimit
    // prunes to ≤k per qid per map partition before the exchange, and
    // salting would only fragment the groups and defeat that pruning.
    topKPlain(scored.select("qid", "nid", "sim"), k)
  }

  /** md5-derived sign-random-projection bucket — the ORACLE-PROVABLE
    * SRP variant: projection entry r(b,d) is ±1 by the first hex char
    * of md5("b|d"), a rule DuckDB recomputes verbatim, so LSH
    * bucketing itself can be differentially tested end-to-end (the
    * xxhash64 native srpSignature stays the scale path). The ±1
    * matrix is resolved HERE at plan-build time (same md5, computed in
    * Scala), so the per-row work is one fused multiply-add chain; the
    * projection is rounded at 6 before the sign so summation-order
    * ulps cannot flip a bucket bit on either engine. */
  def md5SrpBucket(vec: Column, bits: Int, dims: Int): Column = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    def sign(b: Int, d: Int): Double = {
      val h = digest.digest(s"$b|$d".getBytes("UTF-8"))
      val firstHex = Integer.toHexString((h(0) & 0xff) >> 4).charAt(0)
      if (firstHex >= '8') 1.0 else -1.0
    }
    (0 until bits).map { b =>
      val dot = (1 to dims).map(d =>
        element_at(vec, d) * lit(sign(b, d))).reduce(_ + _)
      when(round(dot, 6) >= 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** SemDedup-style semantic deduplication: cluster by nearest
    * centroid, then drop every vector that has a more-senior (smaller
    * id) same-cluster neighbour above the cosine threshold.
    *
    * Unlike ivfTopK's xxhash64-sampled centroids, the centroid rule
    * here (`id % centroidStep == 0`) is SQL-expressible, so the WHOLE
    * pipeline — assignment argmax, within-cluster pairs, keep/drop
    * verdict — carries a DuckDB oracle end-to-end.
    *
    * Scale shape: centroids broadcast (their count is the quality
    * dial, chosen ∝ corpus size so clusters stay bounded); assignment
    * is a slim map-side-combinable max(struct(cs,-cid)) aggregate over
    * (id, cs, cid) rows — scores are computed inside the broadcast
    * join's projection, so the wide vectors never ride the per-id
    * shuffle (the same reshape that took ivfTopK's assignment from
    * 292 s to 8 s at the ×100 corpus; vectors rejoin by id once, after
    * the argmax). The quadratic pair stage runs within clusters only —
    * that confinement is the entire point of SemDedup, turning an
    * O(n²) dedup into Σ O(|cluster|²).
    *
    * Output: (id, cluster, kept) for every input vector — kept=false
    * means a smaller-id near-duplicate exists in the same cluster.
    */
  def semdedup(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, centroidStep: Int,
      centroidCap: Option[Int] = None): DataFrame = {
    val v = df.select(
      col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
    // centroidCap: the caller's PROVABLE upper bound on |centroids|
    // (ceil(maxId / centroidStep) + 1 under a bounded id contract) —
    // a row-wise no-op applied as a limit so the plan itself carries
    // the broadcast-bound proof PlanAudit reads. Without it the mod
    // filter is data-dependent and the audit correctly warns.
    val cents0 = v.filter(col("id") % centroidStep === 0)
      .select(col("id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val cents = centroidCap.fold(cents0)(cents0.limit)
    // argmax centroid per id as a slim aggregate: (id, cs, cid) only —
    // max(struct) ranks by cs desc then cid asc (negated), and a
    // null cs struct sorts below any scored one, matching the window
    // form's desc_nulls_last; all-null ids (zero vectors) fall back to
    // the min cid, also matching. Vectors rejoin once, after the argmax.
    val best = v.crossJoin(broadcast(cents))
      .select(col("id"),
        round(cosine(col("v"), col("cv"), col("nrm"), col("cnrm")), 6)
          .as("cs"),
        col("cid"))
      .groupBy("id")
      .agg(max(struct(col("cs"), (-col("cid")).as("ncid"))).as("b"))
      .select(col("id"), (-col("b.ncid")).as("cid"))
    val assigned = best.join(v, "id")
      .select(col("id"), col("cid"), col("v"), col("nrm"))
    val removed = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.id") > col("b.id"))
      .filter(round(cosine(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")), 6)
        > threshold)
      .select(col("a.id").as("id")).distinct()
      .withColumn("kept", lit(false))
    assigned.select("id", "cid")
      .join(removed, Seq("id"), "left")
      .select(col("id"), col("cid").as("cluster"),
        coalesce(col("kept"), lit(true)).as("kept"))
  }

  /** Product-quantization ANN, end-to-end (Jégou et al. 2011): train a
    * per-subspace codebook (anchor init from the `codebookSize` lowest
    * ids + one Lloyd refinement whose per-dimension means are rounded
    * to 6 decimals, so any engine re-derives the identical codebook),
    * encode every vector as `numSub` codeword ids, search by
    * Asymmetric Distance Computation, shortlist, exact re-rank.
    *
    * Scale shape — the part that matters at 100 TB:
    *  - codebook and per-query ADC tables are broadcast
    *    (codebookSize×numSub and |Q|×numSub×codebookSize entries);
    *  - each corpus vector carries its code ARRAY in one row, so the
    *    ADC pass is a BroadcastNestedLoopJoin with ROW-LOCAL lookup
    *    arithmetic — N×|Q| evaluated pairs (ADC is a compressed linear
    *    scan by design; IVF prunes N, PQ shrinks bytes/vector to
    *    `numSub`), but NO N×|Q| shuffle: the shortlist window's
    *    rank<=S predicate is pushed map-side (WindowGroupLimit), so
    *    only ~|Q|×S×partitions rows reach the exchange;
    *  - the exact re-rank joins raw vectors for |Q|×S rows only.
    *
    * Float determinism: per-subspace distances and Lloyd means are
    * rounded to 6 decimals; the ADC sum folds those rounded entries in
    * ascending-subspace order — addition order can never flap a rank.
    */
  /** PQ train + encode, shared by pqTopK and ivfPqTopK.
    *
    * @param emb (vec_id, v: array<double>) corpus
    * @return (cb, codes): cb = (am, cw, av) — the Lloyd-refined
    *         codebook, numSub×codebookSize rows, localCheckpoint'd so
    *         the training DAG runs once per query, not once per
    *         consumer branch; codes = (vec_id, codes: array<long>) —
    *         each vector's codeword ids ordered by subspace.
    */
  private def pqTrainEncode(
      emb: DataFrame, numSub: Int, sd: Int,
      codebookSize: Int): (DataFrame, DataFrame) = {
    // anchor codebook: the codebookSize lowest-id vectors, re-keyed to
    // dense codeword ids 0..codebookSize-1 (bounded rank window)
    val anchors = emb.orderBy("vec_id").limit(codebookSize)
      .withColumn("cw", row_number().over(Window.orderBy("vec_id")) - 1)
      .select(col("cw").cast("long").as("cw"), col("v").as("av"))
    // per-subspace squared distances as FLAT left-to-right sums (same
    // addition order as a zip_with fold, identical values) — these
    // expressions run N×numSub×codebookSize times, so no per-row
    // lambda/array allocation
    val subsq0 = expr("round(" + (1 to sd).map(i =>
      s"(element_at(v, m * $sd + $i) - element_at(av, m * $sd + $i)) * " +
        s"(element_at(v, m * $sd + $i) - element_at(av, m * $sd + $i))")
      .mkString(" + ") + ", 6)")
    val vm = emb.select(col("vec_id"), col("v"),
      explode(sequence(lit(0), lit(numSub - 1))).as("m"))
    val assign0 = vm.crossJoin(broadcast(anchors))
      .select(col("vec_id"), col("m"), col("cw"), subsq0.as("d"))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("d"), col("cw"))).as("b"))
      .select(col("vec_id"), col("m"), col("b.cw").as("code0"))
    // one Lloyd step: per-(subspace, codeword, dim) mean, rounded so
    // the refined codebook is engine-independent
    val dims = vm.select(col("vec_id"), col("m"),
      posexplode(expr(s"slice(v, m * $sd + 1, $sd)")).as(Seq("i", "x")))
    val cb = dims.join(assign0, Seq("vec_id", "m"))
      .groupBy("m", "code0", "i")
      .agg(round(avg("x"), 6).as("cx"))
      .groupBy(col("m").as("am"), col("code0").as("cw"))
      .agg(expr("transform(array_sort(collect_list(" +
        "named_struct('i', i, 'x', cx))), s2 -> s2.x)").as("av"))
      .localCheckpoint()
    (cb, pqEncode(vm, cb, sd))
  }

  /** Encode: argmin codeword per (vector, subspace) under a FIXED
    * codebook, then one code ARRAY per vector ordered by subspace —
    * shared by training's final encode and the frozen-artifact
    * arrival encode (ivfPqEncodeWith). */
  private def pqEncode(vm: DataFrame, cb: DataFrame, sd: Int): DataFrame =
    vm.join(broadcast(cb), vm("m") === cb("am"))
      .select(col("vec_id"), col("m"), col("cw"),
        pqSubDist(sd).as("d"))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("d"), col("cw"))).as("b"))
      .select(col("vec_id"), col("m"), col("b.cw").as("code"))
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(" +
        "named_struct('m', m, 'c', code))), s2 -> s2.c)").as("codes"))

  /** Squared distance between subspace `m` of `v` and the 4-dim
    * codeword `av`, as a flat codegen'd sum rounded to 6 decimals. */
  private def pqSubDist(sd: Int): Column =
    expr("round(" + (1 to sd).map(i =>
      s"(element_at(v, m * $sd + $i) - element_at(av, $i)) * " +
        s"(element_at(v, m * $sd + $i) - element_at(av, $i))")
      .mkString(" + ") + ", 6)")

  /** Per-query flattened ADC tables (qid, tbl): tbl indexed
    * m * codebookSize + cw (array_sort on (m, cw) gives that order). */
  private def pqQueryTables(
      q: DataFrame, cb: DataFrame, numSub: Int, sd: Int): DataFrame =
    q.select(col("qid"), col("v"),
      explode(sequence(lit(0), lit(numSub - 1))).as("m"))
      .join(broadcast(cb), col("m") === cb("am"))
      .select(col("qid"), col("m"), col("cw"), pqSubDist(sd).as("d"))
      .groupBy("qid")
      .agg(expr("transform(array_sort(collect_list(" +
        "named_struct('m', m, 'cw', cw, 'd', d))), s2 -> s2.d)").as("tbl"))

  def pqTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 3, dim: Int = 64, numSub: Int = 16,
      codebookSize: Int = 16, shortlist: Int = 50,
      queryCap: Option[Int] = None): DataFrame = {
    require(dim % numSub == 0, s"dim $dim not divisible by numSub $numSub")
    val sd = dim / numSub
    val emb = corpus.select(col(idCol).as("vec_id"),
      expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("v"))
    val q = queries.select(col(idCol).as("qid"),
      expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("v"))
    val (cb, codes) = pqTrainEncode(emb, numSub, sd, codebookSize)
    // queryCap: caller's provable bound on |queries| (the query side
    // is broadcast against every code row, so it is bounded by
    // contract) — applied to the per-query ADC tables as a row-wise
    // no-op limit that lets PlanAudit prove the broadcast.
    val dt0 = pqQueryTables(q, cb, numSub, sd)
    val dt = queryCap.fold(dt0)(dt0.limit)
    // ADC: row-local table lookups per (vector, query); rank<=shortlist
    // prunes map-side before any exchange (WindowGroupLimit). The sum
    // is a FLAT left-to-right chain of element_at adds, not a HOF fold:
    // same addition order and values, but no per-pair lambda/sequence
    // allocation — this expression runs N×|Q| times and its constant IS
    // the ADC scan cost.
    val adcSum = (0 until numSub).map(mi =>
      s"element_at(tbl, ${mi * codebookSize} + " +
        s"CAST(element_at(codes, ${mi + 1}) AS INT) + 1)").mkString(" + ")
    val adc = codes.crossJoin(broadcast(dt))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        expr(s"round($adcSum, 6)").as("adc"))
      .withColumn("srk", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc"), col("nid"))))
      .filter(col("srk") <= shortlist)
      .select("qid", "nid")
    // exact re-rank of the shortlist only (query vectors come from the
    // queries side — they need not be corpus members)
    pqRerank(adc, q, emb, k)
  }

  /** Exact-L2 re-rank of a (qid, nid) shortlist against raw vectors. */
  private def pqRerank(
      shortlist: DataFrame, q: DataFrame, emb: DataFrame,
      k: Int): DataFrame =
    shortlist
      .join(q.select(col("qid"), col("v").as("qv")), Seq("qid"))
      .join(emb.select(col("vec_id").as("nid"), col("v").as("nv")), Seq("nid"))
      .select(col("qid"), col("nid"),
        expr("round(aggregate(zip_with(qv, nv, " +
          "(x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x), 6)")
          .as("dist"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("dist"), col("nid"))))
      .filter(col("rk") <= k)
      .select("qid", "rk", "nid", "dist")

  /** IVF-PQ: the composed 100 TB ANN serving shape — IVF prunes the
    * ROW count (only `nprobe` inverted lists are scanned per query),
    * PQ shrinks the BYTES per scanned row (codes, not floats), and the
    * exact re-rank touches raw vectors only for the shortlist. This is
    * the standard composition (FAISS IVFADC; Jégou et al. 2011 §IV).
    *
    * Centroids use the deterministic modulus rule (vec_id %
    * centroidEvery == 0) with rounded-cosine argmax assignment — the
    * llm_knn_ivf oracle precedent — so the ENTIRE composed path
    * (centroids, assignment, probes, codebook training, encoding, ADC,
    * re-rank) is recomputable by another engine. Candidate flow:
    * probes (|Q|×nprobe) broadcast against the coded+assigned corpus
    * on the LIST id — an equi-join, so only probed lists' codes are
    * ever read — then the flat ADC sum, a WindowGroupLimit-pruned
    * shortlist, and the |Q|×shortlist exact re-rank.
    */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 3, dim: Int = 64, numSub: Int = 16,
      codebookSize: Int = 16, shortlist: Int = 20,
      centroidEvery: Int = 32, nprobe: Int = 4,
      centroidCap: Option[Int] = None): DataFrame = {
    val (cents, cb, coded) = ivfPqBuildIndex(corpus, idCol, vecCol,
      dim, numSub, codebookSize, centroidEvery, centroidCap)
    ivfPqServe(cents, cb, coded, queries, corpus, idCol, vecCol,
      k, dim, numSub, codebookSize, shortlist, nprobe)
  }

  /** The TRAINED IVF-PQ index artifacts — exactly the three tables a
    * 100 TB deployment persists once and serves from (FAISS's
    * quantizer + codebook + inverted lists, as columnar tables):
    *   centroids (cid, cv, cnrm)   — |lists| rows of raw floats
    *   codebook  (am, cw, av)      — numSub×codebookSize subvectors
    *   coded     (vec_id, codes, cid) — numSub bytes-worth per corpus
    *                                    vector + its list id
    * All three round-trip parquet EXACTLY (doubles and longs are
    * stored binary), so serving from a load is hash-identical to
    * serving in-memory — llm_knn_index_persist pins that. */
  def ivfPqBuildIndex(
      corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      numSub: Int, codebookSize: Int, centroidEvery: Int,
      centroidCap: Option[Int]): (DataFrame, DataFrame, DataFrame) = {
    require(dim % numSub == 0, s"dim $dim not divisible by numSub $numSub")
    val sd = dim / numSub
    val emb = corpus.select(col(idCol).as("vec_id"),
      expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("v"))
    // IVF side: deterministic centroids + slim rounded-cosine argmax
    // assignment (the ivfTopK/llm_knn_ivf shape). centroidCap = the
    // caller's provable |centroids| bound (semdedup's discipline):
    // a row-wise no-op limit carrying the broadcast proof in-plan.
    val en = emb.withColumn("nrm", norm(col("v")))
    val cents0 = en.filter(col("vec_id") % centroidEvery === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"),
        col("nrm").as("cnrm"))
    val cents = centroidCap.fold(cents0)(cents0.limit)
    val asg = ivfAssign(en, cents)
    // PQ side: shared train + encode; codes pick up their list id
    val (cb, codes) = pqTrainEncode(emb, numSub, sd, codebookSize)
    (cents, cb, codes.join(asg, Seq("vec_id")))
  }

  /** Rounded-cosine argmax list assignment of (vec_id, v, nrm) rows
    * against the given centroid table — shared by the index build and
    * the frozen-artifact arrival encode, so the two paths cannot
    * drift. */
  private def ivfAssign(en: DataFrame, cents: DataFrame): DataFrame =
    en.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        round(cosine(col("v"), col("cv"), col("nrm"), col("cnrm")), 6)
          .as("cs"),
        col("cid"))
      .groupBy("vec_id")
      .agg(max(struct(col("cs"), (-col("cid")).as("ncid"))).as("b"))
      .select(col("vec_id"), (-col("b.ncid")).as("cid"))

  /** Encode NEW vectors with FROZEN index artifacts (the incremental
    * half of index maintenance, VERDICT r12 #4): rounded-cosine argmax
    * list assignment against the LOADED centroids + argmin-codeword PQ
    * encode against the LOADED codebook — NO retraining. Because the
    * artifacts are immutable and the encode is row-local given them,
    * appending these rows to the persisted coded lists is provably
    * identical to re-encoding the unioned corpus from scratch under
    * the same artifacts (SimilaritySpec pins both equalities). At
    * 100 TB this is the daily-arrivals job: cost scales with
    * |arrivals|, not |corpus| — the dedup index's probe-the-load
    * shape, applied to the ANN store. */
  def ivfPqEncodeWith(
      cents: DataFrame, cb: DataFrame, arrivals: DataFrame,
      idCol: String, vecCol: String, dim: Int, numSub: Int): DataFrame = {
    require(dim % numSub == 0, s"dim $dim not divisible by numSub $numSub")
    val sd = dim / numSub
    val emb = arrivals.select(col(idCol).as("vec_id"),
      expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("v"))
    val en = emb.withColumn("nrm", norm(col("v")))
    val asg = ivfAssign(en, cents)
    val vm = emb.select(col("vec_id"), col("v"),
      explode(sequence(lit(0), lit(numSub - 1))).as("m"))
    pqEncode(vm, cb, sd).join(asg, Seq("vec_id"))
  }

  /** Serve queries from (possibly loaded) index artifacts: probe the
    * top-nprobe lists per query, ADC-score only those lists' codes,
    * exact-re-rank the shortlist against the raw vector store
    * (`corpus` — touched ONLY for |Q|·shortlist rows). */
  def ivfPqServe(
      cents: DataFrame, cb: DataFrame, coded: DataFrame,
      queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, numSub: Int,
      codebookSize: Int, shortlist: Int, nprobe: Int): DataFrame = {
    require(dim % numSub == 0, s"dim $dim not divisible by numSub $numSub")
    val sd = dim / numSub
    val emb = corpus.select(col(idCol).as("vec_id"),
      expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("v"))
    val q = queries.select(col(idCol).as("qid"),
      expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("v"))
    // query probes (top-nprobe lists) + ADC tables, joined so each
    // probe row carries its query's flattened table
    val qn = q.withColumn("qnrm", norm(col("v")))
    val probes = qn.crossJoin(broadcast(cents))
      .select(col("qid"),
        round(cosine(col("v"), col("cv"), col("qnrm"), col("cnrm")), 6)
          .as("cs"),
        col("cid"))
      .withColumn("crk", row_number().over(
        Window.partitionBy("qid")
          .orderBy(desc_nulls_last("cs"), asc("cid"))))
      .filter(col("crk") <= nprobe)
      .select("qid", "cid")
    val dt = pqQueryTables(q, cb, numSub, sd)
    val probeTbl = probes.join(dt, Seq("qid"))
    val adcSum = (0 until numSub).map(mi =>
      s"element_at(tbl, ${mi * codebookSize} + " +
        s"CAST(element_at(codes, ${mi + 1}) AS INT) + 1)").mkString(" + ")
    val adc = coded.join(broadcast(probeTbl), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        expr(s"round($adcSum, 6)").as("adc"))
      .withColumn("srk", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc"), col("nid"))))
      .filter(col("srk") <= shortlist)
      .select("qid", "nid")
    pqRerank(adc, q, emb, k)
  }
}
