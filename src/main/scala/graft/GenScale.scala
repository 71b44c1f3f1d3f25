package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for bench runs beyond the shipped
  * test data: replicates an sf directory N× with key-shifted copies so
  * the workload scales like a real SF increase, not like a pile of exact
  * duplicates:
  *
  *  - every key column shifts by `copy * (max_key + 1)` — joins fan out
  *    and group-by cardinalities grow linearly, exactly as a bigger SF
  *    would behave;
  *  - fixed-size dimensions (region, nation) stay fixed, like TPC-H;
  *  - document text is word-salted per copy (each word gets a copy
  *    suffix) so shingle/minhash/simhash dedup sees 10× corpus, not 10×
  *    exact-duplicate groups (which would inflate candidate pairs
  *    quadratically and measure the wrong thing);
  *  - embeddings get a tiny per-copy component offset for the same
  *    reason (quantized cosine no longer collides across copies);
  *  - bounded baseline queries (doc_id < 300, ANN query/centroid id
  *    ranges) keep their original copy-0 rows untouched, so bounded
  *    work stays bounded while corpus-scan work grows.
  *
  * Usage: runMain graft.GenScale <srcSfDir> <dstDir> <copies>
  */
object GenScale {

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: GenScale <srcSfDir> <dstDir> <copies>")
    val (src, dst, copies) = (args(0), args(1), args(2).toInt)
    val spark = Sessions.local(
      Runtime.getRuntime.availableProcessors().toString,
      "spark.app.name" -> "graft-genscale",
      "spark.sql.shuffle.partitions" -> "32")

    def read(t: String): DataFrame =
      spark.read.parquet(s"$src/$t.parquet")

    def write(t: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      System.err.println(s"[genscale] $t: ${df.count()} rows")
    }

    /** Union `copies` copies with each key column shifted by its stride. */
    def replicate(df: DataFrame, keys: Seq[String],
        perCopy: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      val strides: Map[String, Long] = keys.map { k =>
        k -> (df.agg(max(col(k))).head.getLong(0) + 1L)
      }.toMap
      (0 until copies).map { i =>
        val shifted = keys.foldLeft(df) { (d, k) =>
          d.withColumn(k, col(k) + lit(i * strides(k)))
        }
        perCopy(shifted, i)
      }.reduce(_ unionAll _)
    }

    // fixed-size dimensions: unchanged, as in real TPC-H SF growth
    write("region", read("region"))
    write("nation", read("nation"))

    write("customer", replicate(read("customer"), Seq("c_custkey")))
    write("supplier", replicate(read("supplier"), Seq("s_suppkey")))
    write("part", replicate(read("part"), Seq("p_partkey")))
    // orders join customer; lineitem joins orders/part/supplier — the
    // foreign keys shift with the same stride as the referenced table's
    // primary key, so every copy joins only within itself (a bigger SF's
    // join topology, not a cross-product)
    write("orders", replicate(read("orders"), Seq("o_orderkey", "o_custkey")))
    write("lineitem", replicate(read("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")))

    write("events", replicate(read("events"), Seq("event_id", "user_id")))

    // word-salt copies 1..N-1 (copy 0 stays byte-identical so bounded
    // baselines and oracle-shaped subsets are untouched)
    write("documents", replicate(read("documents"), Seq("doc_id"),
      (d, i) => if (i == 0) d else d.withColumn("text",
        regexp_replace(col("text"), """(\S+)""", "$1" + s"_$i"))))

    write("embeddings", replicate(read("embeddings"), Seq("vec_id"),
      (d, i) => if (i == 0) d else d.withColumn("embedding",
        transform(col("embedding"), x => x + lit(i * 1e-4f)))))

    spark.stop()
  }
}
