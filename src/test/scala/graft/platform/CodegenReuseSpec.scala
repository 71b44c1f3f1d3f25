package graft.platform

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.streaming.StreamingQuery
import scala.jdk.CollectionConverters._

object CodegenReuseSpec {
  /** Context class loaders the probe UDF saw on task threads. */
  val loaders: java.util.Set[ClassLoader] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[ClassLoader]()
}

/** A job started again with the same script reuses the classes its first
  * run compiled: its tasks run under the same executor class loader, so
  * `CodeGenerator`'s cache (keyed by class loader and code) hits for the
  * whole-stage stages, state-store projections and sink deserializer.
  */
class CodegenReuseSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def awaitBatches(q: StreamingQuery, n: Int): Unit = {
    val deadline = System.currentTimeMillis() + 120000
    while (q.recentProgress.count(_.numInputRows > 0) < n) {
      assert(q.isActive, s"query ended early: ${q.exception}")
      assert(System.currentTimeMillis() < deadline,
        s"fewer than $n non-empty batches in 120 s")
      Thread.sleep(50)
    }
  }

  private def awaitIdle(q: StreamingQuery): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    while (q.status.isTriggerActive) {
      assert(q.isActive, s"query ended early: ${q.exception}")
      assert(System.currentTimeMillis() < deadline, "trigger active for 30 s")
      Thread.sleep(1)
    }
  }

  test("a keyed aggregation started again compiles nothing and runs its " +
    "tasks under the same class loader") {
    // the compile counter is JVM-wide: leave no other query running
    spark.streams.active.foreach(_.stop())
    spark.udf.register("cl_probe", (id: Long) => {
      CodegenReuseSpec.loaders.add(Thread.currentThread().getContextClassLoader)
      id
    })
    val script =
      """SET table.exec.mini-batch.allow-latency = 100 ms;
        |CREATE TABLE cg_src (id BIGINT) WITH (
        |  'connector' = 'datagen', 'rows-per-batch' = '200',
        |  'fields.id.kind' = 'sequence', 'fields.id.start' = '0');
        |CREATE TABLE cg_snk (k BIGINT, n BIGINT,
        |  PRIMARY KEY (k) NOT ENFORCED) WITH ('connector' = 'memory');
        |INSERT INTO cg_snk SELECT cl_probe(id) % 7 AS k, COUNT(*) AS n
        |FROM cg_src GROUP BY cl_probe(id) % 7;
        |""".stripMargin
    val m = new JobManager(spark,
      Files.createTempDirectory("cg_ckpt").toString,
      Files.createTempDirectory("cg_sp").toString)

    def runOnce(name: String): (Set[ClassLoader], Long) = {
      CodegenReuseSpec.loaders.clear()
      val before = compiles
      val id = m.start(name, script)
      try {
        val q = m.info(id).queries.head
        awaitBatches(q, 3)
        // stop between triggers: a stop that aborts a batch mid-flight
        // leaves that batch's compiles to land in the next run's count
        awaitIdle(q)
      } finally m.stop(id, withSavepoint = false)
      graft.streaming.StateStores.awaitReleased()
      (CodegenReuseSpec.loaders.asScala.toSet, compiles - before)
    }

    val (first, firstCompiles) = runOnce("cg_first")
    assert(firstCompiles > 0, "the first run compiled nothing")
    val (second, secondCompiles) = runOnce("cg_second")
    assert(first.nonEmpty && second.nonEmpty)
    assert(secondCompiles == 0,
      s"the second run compiled $secondCompiles classes")
    assert(first == second,
      s"task class loaders differ between runs: $first vs $second")
  }
}
