package graft.tools
object FooterBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession()
    val tables = Seq("lineitem", "orders", "events", "documents", "embeddings")
    // warm
    tables.foreach(t => spark.read.parquet(s"/root/testdata/sf0.1/$t.parquet").schema)
    val t0 = System.nanoTime()
    (1 to 100).foreach { _ =>
      tables.foreach(t => spark.read.parquet(s"/root/testdata/sf0.1/$t.parquet").schema)
    }
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"500 constructions with inference: $dt%.3f s (${dt/500*1000}%.2f ms each)")
    val sch = tables.map(t => t -> spark.read.parquet(s"/root/testdata/sf0.1/$t.parquet").schema).toMap
    val t1 = System.nanoTime()
    (1 to 100).foreach { _ =>
      tables.foreach(t => spark.read.schema(sch(t)).parquet(s"/root/testdata/sf0.1/$t.parquet").schema)
    }
    val dt1 = (System.nanoTime() - t1) / 1e9
    println(f"500 constructions with explicit schema: $dt1%.3f s (${dt1/500*1000}%.2f ms each)")
    spark.stop()
  }
}
