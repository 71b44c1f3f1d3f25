package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files
import scala.collection.mutable

/** Stop-with-savepoint / restore-from-savepoint over a file-source
  * streaming query: after restoring the checkpoint snapshot, the
  * restarted query resumes from the saved offsets — already-processed
  * files are not reprocessed, new files are.
  */
class SavepointSpec extends SparkSpec {

  object EventLog {
    val seen: mutable.Buffer[Long] = mutable.Buffer()
  }

  test("savepoint numbering: numeric order past 10, no reuse after pruning") {
    val ckpt = Files.createTempDirectory("spn_ckpt")
    Files.writeString(ckpt.resolve("offsets"), "x")
    val root = Files.createTempDirectory("spn_root").toString
    val sps = (0 until 11).map(_ =>
      Savepoints.snapshot(ckpt.toString, root, "j"))
    assert(sps.last.endsWith("sp-10"))
    // numeric order, newest last (lexical would put sp-10 before sp-2)
    assert(Savepoints.list(root, "j").last.endsWith("sp-10"))
    // prune an old savepoint; next snapshot must NOT reuse its number
    import scala.jdk.CollectionConverters._
    val sp0 = java.nio.file.Paths.get(sps.head)
    Files.walk(sp0).sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.delete)
    val next = Savepoints.snapshot(ckpt.toString, root, "j")
    assert(next.endsWith("sp-11"), next)
  }

  test("snapshot and restore skip entries that vanish mid-walk") {
    // Spark renames and deletes checkpoint files and directories while a
    // live job is snapshotted; a directory that disappears between the
    // walk listing it and visiting it must be skipped, not fail the walk
    val ckpt = Files.createTempDirectory("sp_churn_ckpt")
    Files.createDirectories(ckpt.resolve("offsets"))
    Files.writeString(ckpt.resolve("offsets/0"), "v1")
    val root = Files.createTempDirectory("sp_churn_root").toString
    @volatile var stop = false
    val churn = new Thread(() => {
      var i = 0
      while (!stop) {
        val d = ckpt.resolve(s"state-${i % 8}")
        try {
          Files.createDirectories(d.resolve("0"))
          Files.writeString(d.resolve("0/1.delta"), "x")
          Files.delete(d.resolve("0/1.delta"))
          Files.delete(d.resolve("0"))
          Files.delete(d)
        } catch { case _: java.io.IOException => () }
        i += 1
      }
    })
    churn.start()
    try {
      for (_ <- 0 until 300) {
        val sp = java.nio.file.Paths.get(
          Savepoints.snapshot(ckpt.toString, root, "churn"))
        assert(Files.readString(sp.resolve("offsets/0")) == "v1")
        // restore over a copy the churn keeps no hold on
        val restored = java.nio.file.Paths.get(
          Savepoints.restore(sp.toString, s"$sp-restored"))
        assert(Files.readString(restored.resolve("offsets/0")) == "v1")
      }
    } finally { stop = true; churn.join() }
  }

  test("restoring a missing savepoint fails and leaves no checkpoint") {
    // a typo or a pruned savepoint must not turn into a fresh start that
    // drops the job's state and offsets
    val root = Files.createTempDirectory("sp_missing")
    val dst = root.resolve("ckpt")
    val e = intercept[IllegalArgumentException](
      Savepoints.restore(root.resolve("sp-404").toString, dst.toString))
    assert(e.getMessage.contains("sp-404"))
    assert(!Files.exists(dst))
  }

  test("snapshot → restore resumes from saved offsets, no duplicates") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("sp_src").toString
    val ckpt = Files.createTempDirectory("sp_ckpt").toString
    val spRoot = Files.createTempDirectory("sp_root").toString

    def startQuery(checkpoint: String) =
      spark.readStream.schema("id LONG").parquet(srcDir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          EventLog.synchronized {
            EventLog.seen ++= b.collect().map(_.getLong(0))
          }
          ()
        }
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()

    // phase 1: two files processed, then stop (graceful, like /api/stop)
    spark.range(0, 5).toDF("id").coalesce(1).write.mode("append").parquet(srcDir)
    spark.range(5, 10).toDF("id").coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = startQuery(ckpt)
    q1.awaitTermination(60000)
    assert(EventLog.seen.sorted == (0L until 10L).toBuffer)

    // savepoint the stopped query's checkpoint
    val sp = Savepoints.snapshot(ckpt, spRoot, "job1")
    assert(Savepoints.list(spRoot, "job1") == Seq(sp))

    // phase 2: new data lands after the savepoint
    spark.range(10, 15).toDF("id").coalesce(1).write.mode("append").parquet(srcDir)

    // restore into a FRESH checkpoint dir and restart the same plan
    val ckpt2 = Files.createTempDirectory("sp_ckpt2").toString
    Savepoints.restore(sp, ckpt2)
    val q2 = startQuery(ckpt2)
    q2.awaitTermination(60000)

    // only the post-savepoint file was processed — no duplicates
    assert(EventLog.seen.sorted == (0L until 15L).toBuffer,
      s"got ${EventLog.seen.sorted}")
  }
}
