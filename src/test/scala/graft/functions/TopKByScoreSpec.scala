package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[TopKByScore]] must be row-identical to the `row_number` window cut
  * it replaces, under any partitioning (the partial/merge path).
  */
class TopKByScoreSpec extends SparkSpec {

  private def viaAgg(df: org.apache.spark.sql.DataFrame, k: Int) = {
    GraftFunctions.register(spark)
    df.groupBy(col("g"))
      .agg(GraftFunctions.topkByScore(col("s"), col("id"), k).as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), col("col.id").as("id"),
        col("col.score").as("s"), (col("pos") + 1).as("rank"))
  }

  private def viaWindow(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.withColumn("rank", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("s").desc, col("id"))))
      .filter(col("rank") <= k)
      .select(col("g"), col("id"), col("s"), col("rank"))

  test("agg == window on random long-id data with score ties, " +
    "any partitioning") {
    import spark.implicits._
    // deterministic pseudo-random rows; scores quantized so ties occur
    val rows = (0 until 2000).map { i =>
      val g = i % 13
      val id = ((i * 2654435761L) % 997 + 997) % 997
      val s = ((i * 40503) % 17).toDouble / 4.0
      (g.toLong, id, s)
    }
    // a group can contain one id twice with different scores — dedup to
    // match the replaced shape (scores arrive from a per-(g,id) agg)
    val df = rows.toDF("g", "id", "s").dropDuplicates("g", "id")
    for (k <- Seq(1, 3, 10); parts <- Seq(1, 7)) {
      val in = df.repartition(parts)
      val a = viaAgg(in, k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      val w = viaWindow(in, k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      assert(a.sorted.toSeq == w.sorted.toSeq, s"k=$k parts=$parts")
    }
  }

  test("string ids order like the window's string ordering") {
    import spark.implicits._
    val df = Seq(
      (1L, "beta", 2.0), (1L, "alpha", 2.0), (1L, "gamma", 2.0),
      (1L, "delta", 1.0), (2L, "only", 5.0))
      .toDF("g", "id", "s")
    val a = viaAgg(df.repartition(3), 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
    val w = viaWindow(df.repartition(3), 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
    assert(a.sorted.toSeq == w.sorted.toSeq)
    // groups smaller than k keep all rows, ranks dense
    assert(a.count(_._1 == 2L) == 1 && a.filter(_._1 == 2L).head._4 == 1)
  }

  test("INT, SMALLINT and TINYINT ids widen to BIGINT: agg == window") {
    import spark.implicits._
    val rows = (0 until 200).map(i => (i % 5L, (i * 37) % 101, (i % 7) / 2.0))
    val df = rows.toDF("g", "id", "s").dropDuplicates("g", "id")
    for (t <- Seq("int", "smallint", "tinyint")) {
      val in = df.withColumn("id", col("id").cast(t)).repartition(3)
      val a = viaAgg(in, 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      val w = viaWindow(in, 3).collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue, r.getDouble(2),
          r.getInt(3)))
      assert(a.sorted.toSeq == w.sorted.toSeq && a.nonEmpty, t)
    }
  }

  test("NaN and signed-zero scores keep a total order: agg == window, " +
    "independent of input order") {
    import spark.implicits._
    // NaN sorts above +Infinity and -0.0 ties with 0.0 in the window's
    // ordering; a comparison that lets NaN tie with every score makes
    // the kept entries depend on the order rows arrive in
    val scores = Seq(Double.NaN, 1.0, Double.PositiveInfinity, 0.0, -0.0,
      Double.NaN, 2.0, Double.NegativeInfinity, 1.0, Double.NaN)
    val rows = for (g <- 0L until 3L; (s, i) <- scores.zipWithIndex)
      yield (g, (i * 7 + g * 3) % 10, s)
    for (order <- Seq(rows, rows.reverse); k <- Seq(1, 2, 4, 6); parts <- Seq(1, 3)) {
      val in = order.toDF("g", "id", "s").repartition(parts)
      def norm(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2).toString, r.getInt(3)))
        .sorted.toSeq
      assert(norm(viaAgg(in, k).collect()) == norm(viaWindow(in, k).collect()),
        s"k=$k parts=$parts")
    }
  }

  test("NULL score or id rows are skipped; plan shows a partial " +
    "aggregate below the exchange") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq(
      (1L, Some(10L), Some(1.0)), (1L, None, Some(9.0)),
      (1L, Some(11L), None), (1L, Some(12L), Some(2.0)))
      .toDF("g", "id", "s")
    val out = df.groupBy(col("g"))
      .agg(GraftFunctions.topkByScore(col("s"), col("id"), 5).as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), col("col.id").as("id"), col("col.score").as("s"))
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((12L, 2.0), (10L, 1.0)))
    // the partial (map-side) step must exist: ObjectHashAggregate twice
    val plan = df.repartition(4).groupBy(col("g"))
      .agg(GraftFunctions.topkByScore(col("s"), col("id"), 5).as("tk"))
      .queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan)
  }
}
