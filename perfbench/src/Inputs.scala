package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-file scaled inputs for the etl_scale workload, after
  * graft.tools.ScaleBench's replication: every table is copied ×mult,
  * and each copy shifts every key column by `rep × KeyStride`, so the
  * result is `mult` disjoint copies of the fixture universe and every
  * join stays one-to-one within its copy.
  *
  * The seed salts only the physical layout: which of the `files` files a
  * row lands in. The table contents are the same for every seed, so the
  * output fingerprints are too.
  */
object Inputs {
  val KeyStride = 1000000L

  /** Key columns (primary and foreign) of each fixture table. */
  val keys: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_nationkey"),
    "supplier" -> Seq("s_suppkey", "s_nationkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def replicate(spark: SparkSession, from: String, to: String, tables: Seq[String],
      mult: Int, files: Int, seed: Long): Unit = tables.foreach { table =>
    val keyCols = keys(table)
    val src = spark.read.parquet(s"$from/$table.parquet")
    val rep = col("_rep")
    val shifted = src.withColumn("_rep", explode(sequence(lit(0), lit(mult - 1))))
      .select(src.columns.toSeq.map { c =>
        if (keyCols.contains(c))
          (col(c) + (rep * KeyStride).cast(src.schema(c).dataType)).as(c)
        else col(c)
      }: _*)
    val salt: Column = xxhash64(lit(seed) +: src.columns.toSeq.map(col): _*)
    shifted
      .repartition(files, pmod(salt, lit(files.toLong)))
      .write.mode("overwrite").parquet(s"$to/$table.parquet")
  }
}
