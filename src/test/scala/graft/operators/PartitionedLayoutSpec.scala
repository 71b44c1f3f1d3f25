package graft.operators

import graft.{SparkSpec, Tables}
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Hive-style partitioned table layout — the 100 TB output pattern: fact
  * tables written partitionBy(date-ish key) so that downstream readers
  * touch only the partitions their filter names. The spec pins BOTH
  * halves: the writer produces one directory per key, and the reader's
  * scan carries the predicate as a PartitionFilter (directory pruning)
  * rather than a data filter over every file. Bucketed tables pin the
  * co-located join: no shuffle on either side.
  */
class PartitionedLayoutSpec extends SparkSpec {
  import spark.implicits._

  test("partitionBy write + filtered read prunes to the named partitions") {
    val dir = Files.createTempDirectory("play").toString
    val ev = Tables.load(spark, sf, "events")
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
    ev.write.partitionBy("day").mode("overwrite").parquet(dir)
    val days = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("day="))
    assert(days == ev.select("day").distinct().count(),
      "one directory per day")

    val wanted = ev.select(min($"day")).head.getString(0)
    val rd = spark.read.parquet(dir).filter($"day" === wanted)
    val scan = rd.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    // the predicate must prune DIRECTORIES, not filter rows post-scan
    assert(scan.partitionFilters.exists(_.toString.contains("day")),
      scan.partitionFilters.toString)
    assert(scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .size == 1, "exactly one partition selected")
    assert(rd.count() == ev.filter($"day" === wanted).count())
  }

  test("partition pruning composes with pushed data filters") {
    val dir = Files.createTempDirectory("play2").toString
    Tables.load(spark, sf, "events")
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
      .write.partitionBy("day").mode("overwrite").parquet(dir)
    // partition-column type inference reads day= back as a DATE
    val anyDay = spark.read.parquet(dir)
      .select(min($"day").cast("string")).head.getString(0)
    val rd = spark.read.parquet(dir)
      .filter($"day" === anyDay && $"event_type" === "purchase")
    val p = rd.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters"), p)
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]"), p)
  }

  test("bucketed tables join without a shuffle (co-located SMJ)") {
    spark.sql("DROP TABLE IF EXISTS bko_a")
    spark.sql("DROP TABLE IF EXISTS bko_b")
    spark.range(1000).select($"id".as("k"), ($"id" * 2).as("va"))
      .write.bucketBy(8, "k").sortBy("k").saveAsTable("bko_a")
    spark.range(500).select($"id".as("k"), ($"id" * 3).as("vb"))
      .write.bucketBy(8, "k").sortBy("k").saveAsTable("bko_b")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bko_a").join(spark.table("bko_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == 500)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }
}
