package graft.sqlgate

import scala.util.Random

import graft.SparkSpec
import graft.multimodal.{MediaFixture, MediaOps}

/** Property-style sweep over the media TVF argument surface: generated
  * (k, frame-count, corruption-site) combinations for
  * MEDIA_VIDEO_FRAMES vs the library kernel — the KeyedRewriteSweepSpec
  * treatment applied to the media routes. The contract under test:
  *
  *   for ANY payload byte content (well-formed GFV1, truncated at an
  *   arbitrary offset, an arbitrary zeroed window, a flipped byte) and
  *   ANY k in the accepted range, the gate TVF produces EXACTLY the
  *   rows the library operator produces over the same bytes — and
  *   neither ever throws on a mangled payload (skip-and-count, the
  *   100 TB failure contract).
  *
  * The mangling is offset-generated, not fixture-rule-generated: the
  * fixture's own corruption rules hit two sites (container truncation,
  * frame-0 smash); this sweep hits arbitrary sites — index field,
  * mid-index, frame boundaries, tail.
  */
class MediaTvfSweepSpec extends SparkSpec {
  import spark.implicits._

  private def mangle(rnd: Random, base: Array[Byte]): Array[Byte] =
    rnd.nextInt(4) match {
      case 0 => base // well-formed
      case 1 => // truncate at an arbitrary offset (1 .. len)
        java.util.Arrays.copyOf(base, 1 + rnd.nextInt(base.length))
      case 2 => // zero an arbitrary 8-byte window
        val out = base.clone()
        val at = rnd.nextInt(math.max(1, out.length - 8))
        java.util.Arrays.fill(out, at, math.min(out.length, at + 8), 0.toByte)
        out
      case _ => // flip one arbitrary byte
        val out = base.clone()
        val at = rnd.nextInt(out.length)
        out(at) = (out(at) ^ 0x5a).toByte
        out
    }

  test("MEDIA_VIDEO_FRAMES gate route equals the library kernel for " +
    "generated (k, frame-count, corruption-site) combinations") {
    val rnd = new Random(23)
    for (trial <- 1 to 6) {
      // ids drive frame count (3 + id % 5) — draw across the range so
      // every count appears; half the payloads get mangled at a
      // generated site
      val rows = (0 until 14).map { i =>
        val id = rnd.nextInt(40).toLong
        val base = MediaFixture.encodeVideo(id)
        (100L * trial + i, mangle(rnd, base))
      }
      val df = rows.toDF("id", "media")
      df.createOrReplaceTempView(s"sweep_clips_$trial")
      val k = 1 + rnd.nextInt(6)
      val runner = new ScriptRunner(spark, batchMode = true)
      runner.run(
        s"""CREATE TABLE sweep_vid_sink_$trial (id BIGINT, n_frames INT,
           |  frame_idx INT, ok BOOLEAN, width INT, height INT,
           |  r_sum BIGINT, g_sum BIGINT, b_sum BIGINT
           |) WITH ('connector' = 'memory');
           |INSERT INTO sweep_vid_sink_$trial
           |SELECT id, n_frames, frame_idx, ok, width, height, r_sum,
           |  g_sum, b_sum
           |FROM TABLE(MEDIA_VIDEO_FRAMES(TABLE sweep_clips_$trial,
           |  DESCRIPTOR(id), DESCRIPTOR(media), $k));
           |""".stripMargin)
      val gate = spark.table(s"sweep_vid_sink_${trial}_out").collect()
        .map(_.toSeq).sortBy(_.toString).toSeq
      val lib = MediaOps.videoFrameFeatures(df, k).toDF().collect()
        .map(_.toSeq).sortBy(_.toString).toSeq
      assert(gate == lib, s"trial $trial k=$k")
      assert(gate.nonEmpty, s"trial $trial produced no rows")
    }
  }

  test("MEDIA_FEATURES / MEDIA_AUDIO gate routes equal the library " +
    "kernels over arbitrarily mangled payloads") {
    val rnd = new Random(31)
    val imgRows = (0 until 16).map { i =>
      (i.toLong, mangle(rnd, MediaFixture.encode(rnd.nextInt(40).toLong)))
    }
    val wavRows = (0 until 16).map { i =>
      (i.toLong, mangle(rnd, MediaFixture.encodeWav(rnd.nextInt(40).toLong)))
    }
    val imgs = imgRows.toDF("id", "media")
    val wavs = wavRows.toDF("id", "media")
    imgs.createOrReplaceTempView("sweep_imgs")
    wavs.createOrReplaceTempView("sweep_wavs")
    val runner = new ScriptRunner(spark, batchMode = true)
    runner.run(
      """CREATE TABLE sweep_img_sink (id BIGINT, fmt STRING, ok BOOLEAN,
        |  width INT, height INT, n_px BIGINT, r_sum BIGINT,
        |  g_sum BIGINT, b_sum BIGINT) WITH ('connector' = 'memory');
        |INSERT INTO sweep_img_sink SELECT id, fmt, ok, width, height,
        |  n_px, r_sum, g_sum, b_sum
        |FROM TABLE(MEDIA_FEATURES(TABLE sweep_imgs, DESCRIPTOR(id),
        |  DESCRIPTOR(media)));
        |CREATE TABLE sweep_wav_sink (id BIGINT, fmt STRING, ok BOOLEAN,
        |  channels INT, rate INT, frames BIGINT, ch0_sum BIGINT,
        |  ch1_sum BIGINT, peak BIGINT) WITH ('connector' = 'memory');
        |INSERT INTO sweep_wav_sink SELECT id, fmt, ok, channels, rate,
        |  frames, ch0_sum, ch1_sum, peak
        |FROM TABLE(MEDIA_AUDIO(TABLE sweep_wavs, DESCRIPTOR(id),
        |  DESCRIPTOR(media)));""".stripMargin)
    assert(spark.table("sweep_img_sink_out").collect().map(_.toSeq)
      .sortBy(_.toString).toSeq ==
      MediaOps.imageFeatures(imgs).toDF().collect().map(_.toSeq)
        .sortBy(_.toString).toSeq)
    assert(spark.table("sweep_wav_sink_out").collect().map(_.toSeq)
      .sortBy(_.toString).toSeq ==
      MediaOps.audioFeatures(wavs).toDF().collect().map(_.toSeq)
        .sortBy(_.toString).toSeq)
  }

  test("MEDIA_VIDEO_FRAMES k bounds reject loudly through the gate") {
    Seq((1L, MediaFixture.encodeVideo(3L))).toDF("id", "media")
      .createOrReplaceTempView("sweep_kbound")
    val e = intercept[Exception] {
      spark.sql(FlinkSqlRewrite(
        "SELECT * FROM TABLE(MEDIA_VIDEO_FRAMES(TABLE sweep_kbound, " +
          "DESCRIPTOR(id), DESCRIPTOR(media), 0))"))
    }
    assert(e.getMessage.contains("k"))
  }
}
