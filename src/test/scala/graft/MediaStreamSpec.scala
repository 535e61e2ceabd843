package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.multimodal.Media
import graft.streaming.EventsStream

class MediaStreamSpec extends SparkSpec {

  test("multimodal: batched extraction preserves rows and batch shape") {
    import spark.implicits._
    val batchSizes = spark.sparkContext.collectionAccumulator[Int]("batches")
    val probe = new Media.Decoder {
      def decodeBatch(payloads: Seq[Array[Byte]]): Seq[Row] = {
        batchSizes.add(payloads.size)
        payloads.map(Media.FakeDecoder.features)
      }
    }
    val df = (1 to 200).map(i => (i.toLong, ("x" * i).getBytes("UTF-8")))
      .toDF("doc_id", "payload").repartition(2)
    val out = Media.extractFeatures(df, probe, batchSize = 64)
    assert(out.count() == 200)
    val sizes = batchSizes.value
    import scala.jdk.CollectionConverters._
    // 200 rows over 2 partitions in ≤64-row batches: every batch ≤ 64,
    // and more than one batch per partition.
    assert(sizes.asScala.forall(_ <= 64) && sizes.size() >= 4)
    // Feature correctness on a known payload.
    val r = out.filter(col("doc_id") === 3).select("features.*").collect().head
    assert(r.getInt(0) == 3 && r.getInt(1) == 'x'.toInt && r.getInt(2) == 'x'.toInt)
  }

  test("multimodal: ImageIO decoder reads real PNG dimensions end-to-end") {
    import spark.implicits._
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xFF0000)
      img.setRGB(w - 1, h - 1, 0x0000FF)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val df = Seq((1L, png(17, 9)), (2L, "not an image".getBytes("UTF-8")),
      (3L, Array.emptyByteArray)).toDF("doc_id", "payload")
    val out = Media.featureTable(df, "doc_id", Media.ImageIoDecoder)
      .select(col("doc_id"), col("features.*")).collect()
      .map(r => r.getLong(0) -> r).toMap
    // A real PNG byte payload decodes to its true pixel dimensions and
    // corner-pixel checksum.
    assert(out(1L).getAs[Boolean]("decoded"))
    assert(out(1L).getAs[Int]("width") == 17)
    assert(out(1L).getAs[Int]("height") == 9)
    assert(out(1L).getAs[Long]("checksum") == 0xFF0000L * 31 + 0x0000FFL)
    // Non-image and empty payloads take the byte-level fallback, flagged.
    assert(!out(2L).getAs[Boolean]("decoded"))
    assert(out(2L).getAs[Int]("n_bytes") == 12)
    assert(!out(3L).getAs[Boolean]("decoded"))
    assert(out(3L).getAs[Int]("n_bytes") == 0)
  }

  test("multimodal: WAV decoder parses real PCM end-to-end, aliens fall back") {
    import spark.implicits._
    // A known 3-sample WAV plus the synthetic generator's payload for
    // id=5 (whose format/frames/sum the q72 oracle predicts externally).
    def wav(samples: Seq[Int]): Array[Byte] = {
      val data = samples.flatMap(s =>
        Seq((s & 0xff).toByte, ((s >> 8) & 0xff).toByte)).toArray
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val in = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(in,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    // Big-endian sibling: the same 3 samples as an AIFF container — the
    // decoder must byte-swap, not fall back (AIFF/AU are big-endian PCM).
    def aiff(samples: Seq[Int]): Array[Byte] = {
      val data = samples.flatMap(s =>
        Seq(((s >> 8) & 0xff).toByte, (s & 0xff).toByte)).toArray
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
      val in = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(in,
        javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
      bos.toByteArray
    }
    val df = Seq((1L, wav(Seq(100, -200, 32767))),
      (2L, Media.syntheticWav(5L)),
      (3L, "definitely not RIFF".getBytes("UTF-8")),
      (4L, Array.emptyByteArray),
      (5L, aiff(Seq(100, -200, 32767)))).toDF("doc_id", "payload")
    val out = Media.featureTable(df, "doc_id", Media.WavDecoder)
      .select(col("doc_id"), col("features.*")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("decoded"))
    assert(out(1L).getAs[Int]("sample_rate") == 8000)
    assert(out(1L).getAs[Int]("channels") == 1)
    assert(out(1L).getAs[Long]("n_frames") == 3L)
    assert(out(1L).getAs[Long]("pcm_sum") == 100L - 200L + 32767L)
    // The synthetic payload matches its closed-form parameters (id=5):
    // 16 + 5%32 = 21 frames, sum of ((5*31 + 17k) mod 65536) - 32768.
    val expSum = (0 until 21).map(k => ((5L * 31 + k * 17) % 65536) - 32768).sum
    assert(out(2L).getAs[Boolean]("decoded"))
    assert(out(2L).getAs[Long]("n_frames") == 21L)
    assert(out(2L).getAs[Long]("pcm_sum") == expSum)
    // Non-audio and empty payloads take the flagged fallback.
    assert(!out(3L).getAs[Boolean]("decoded"))
    assert(!out(4L).getAs[Boolean]("decoded"))
    // The AIFF (big-endian) payload decodes to the SAME samples as the
    // WAV — byte order handled, real path taken.
    assert(out(5L).getAs[Boolean]("decoded"))
    assert(out(5L).getAs[Long]("n_frames") == 3L)
    assert(out(5L).getAs[Long]("pcm_sum") == 100L - 200L + 32767L)
  }

  test("multimodal: ImageIO transcoder resizes a real PNG through the batch path") {
    import spark.implicits._
    // 16x8 image, solid red with a blue right-bottom quadrant.
    val img = new java.awt.image.BufferedImage(16, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 16; y <- 0 until 8)
      img.setRGB(x, y, if (x >= 8 && y >= 4) 0x0000FF else 0xFF0000)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val df = Seq((1L, bos.toByteArray),
      (2L, "garbage".getBytes("UTF-8"))).toDF("id", "payload")
    val out = Media.resize(df, width = 4, height = 4, Media.ImageIoTranscoder)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Array[Byte]]("payload")).toMap
    // The resized payload is a REAL 4x4 PNG with quadrant colors intact.
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(1L)))
    assert(back.getWidth == 4 && back.getHeight == 4)
    assert((back.getRGB(0, 0) & 0xFFFFFF) == 0xFF0000)
    assert((back.getRGB(3, 3) & 0xFFFFFF) == 0x0000FF)
    // Undecodable payload takes the byte-level fallback (w*h bytes).
    assert(out(2L).length == 16)
  }

  test("multimodal: frame sampling explodes deterministic byte windows") {
    import spark.implicits._
    val df = Seq((1L, Array.range(0, 200).map(_.toByte))).toDF("id", "payload")
    val frames = Media.sampleFrames(df, frameBytes = 16, stride = 64).collect()
    assert(frames.length == 3) // (200-16)/64 = 2 → frame offsets 0, 64, 128
  }

  test("multimodal: resize replaces payload with target-dimension bytes") {
    import spark.implicits._
    val df = Seq((1L, Array.range(0, 100).map(_.toByte)),
      (2L, Array.emptyByteArray)).toDF("id", "payload")
    val out = Media.resize(df, width = 4, height = 4)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Array[Byte]]("payload"), r.getAs[Int]("width"),
          r.getAs[Int]("height"))).toMap
    val (p1, w1, h1) = out(1L)
    assert(p1.length == 16 && w1 == 4 && h1 == 4)
    // Nearest-neighbor index map: byte i of 16 samples source byte i*100/16.
    assert(p1(0) == 0.toByte && p1(8) == 50.toByte)
    assert(out(2L)._1.isEmpty) // empty payload passes through
  }

  test("multimodal: resize replaces pre-existing width/height columns") {
    import spark.implicits._
    val df = Seq((1L, Array.range(0, 100).map(_.toByte), 10, 10))
      .toDF("id", "payload", "width", "height")
    val out = Media.resize(df, width = 4, height = 4)
    // No duplicate column names — the stale dimensions are replaced.
    assert(out.columns.count(_ == "width") == 1)
    assert(out.columns.count(_ == "height") == 1)
    val r = out.collect().head
    assert(r.getAs[Int]("width") == 4 && r.getAs[Int]("height") == 4)
  }

  test("streaming: as-of attribution matches the batch operator on q106's data") {
    import spark.implicits._
    // Batch-twin equivalence on the real events fixture: the array-probe
    // stream form must reproduce asofJoinBackward row for row.
    val ev = graft.Tables.t(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tsm"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("tsm"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_id"), col("last_purchase_k"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val batch = rows(graft.operators.RelationalQueries.asofJoinBackward(
      clicks, purchases, "user_id", "tsm", "k", "last_purchase_k"))
    val streamForm = rows(EventsStream.attributeStream(
      clicks, purchases, "user_id", "tsm", "k", "last_purchase_k"))
    assert(streamForm == batch,
      s"stream form diverges on ${streamForm.toSet.diff(batch.toSet).take(3)}")

    // And genuinely streaming: clicks arrive over two triggers, late
    // events included, against the static timeline.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long)]
    val timeline = Seq((10L, 100L, 7L), (10L, 100L, 9L), (10L, 200L, 11L))
      .toDF("user_id", "tsm", "k")
    val q = EventsStream.attributeStream(
        mem.toDF().toDF("event_id", "user_id", "tsm"),
        timeline, "user_id", "tsm", "k", "v")
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    mem.addData((1L, 10L, 150L), (2L, 10L, 250L))
    q.processAllAvailable()
    mem.addData((3L, 10L, 50L), (4L, 77L, 500L)) // early + unknown user
    q.processAllAvailable()
    val out = spark.table("attrib")
      .select(col("event_id"), col("v")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    q.stop()
    assert(out == Map(1L -> Some(9L), 2L -> Some(11L), 3L -> None,
      4L -> None), s"got $out")
  }

  test("streaming: stream-STREAM as-of attribution matches asofJoinBackward") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(us: Long) = new java.sql.Timestamp(us / 1000) // whole-ms fixture
    // Clicks and purchases BOTH stream, out of order across triggers: a
    // purchase for user 10 arrives in trigger 2 with an event time BEFORE
    // click 2 — the click must wait for the watermark and then attribute
    // to it (no retraction needed, no wrong early emit).
    val clickMem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchMem = MemoryStream[(Long, java.sql.Timestamp, Option[Long])]
    val clicks = clickMem.toDF().toDF("event_id", "user_id", "ts")
    val purchases = purchMem.toDF().toDF("user_id", "ts", "k")
    val q = EventsStream.attributeStreams(clicks, purchases, "5 seconds")
      .writeStream.format("memory").queryName("ss_attrib")
      .outputMode("append").start()
    val M = 1000000L // µs per second
    clickMem.addData((1L, 10L, ts(10 * M)), (2L, 10L, ts(40 * M)),
      (3L, 77L, ts(15 * M)))
    purchMem.addData((10L, ts(5 * M), Some(7L)))
    q.processAllAvailable()
    // Trigger 2: late-ish purchase (ts 30s < click 2's 40s) plus a
    // same-ts duplicate pair at 30s for the tie rule, then sentinels far
    // in the future to push the watermark past every click.
    purchMem.addData((10L, ts(30 * M), Some(9L)), (10L, ts(30 * M), None))
    q.processAllAvailable()
    clickMem.addData((99L, 999L, ts(500 * M)))
    purchMem.addData((999L, ts(500 * M), Some(1L)))
    q.processAllAvailable()
    clickMem.addData((98L, 999L, ts(600 * M)))
    purchMem.addData((999L, ts(600 * M), Some(1L)))
    q.processAllAvailable()
    clickMem.addData((97L, 999L, ts(700 * M)))
    purchMem.addData((999L, ts(700 * M), Some(1L)))
    q.processAllAvailable()
    val got = spark.table("ss_attrib")
      .select(col("event_id"), col("last_purchase_k")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    q.stop()
    // click 1: only purchase at 5s -> 7; click 2: tie at 30s -> greatest
    // (9, the null loses); click 3: user 77 has no purchases -> null.
    assert(got(1L) == Some(7L) && got(2L) == Some(9L) && got(3L) == None,
      s"got $got")
    // Equality with the batch operator on the identical finite input.
    val clicksB = Seq((1L, 10L, 10 * M), (2L, 10L, 40 * M), (3L, 77L, 15 * M),
      (99L, 999L, 500 * M), (98L, 999L, 600 * M))
      .toDF("event_id", "user_id", "tsm")
    val purchB = Seq((10L, 5 * M, Some(7L)), (10L, 30 * M, Some(9L)),
      (10L, 30 * M, None), (999L, 500 * M, Some(1L)),
      (999L, 600 * M, Some(1L)))
      .toDF("user_id", "tsm", "k")
    val batch = graft.operators.RelationalQueries.asofJoinBackward(
        clicksB, purchB, "user_id", "tsm", "k", "last_purchase_k")
      .select(col("event_id"), col("last_purchase_k")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    // The stream emits every click whose event time the watermark passed;
    // compare exactly those (the final sentinel click 97 stays buffered).
    got.foreach { case (id, v) =>
      assert(batch(id) == v, s"stream/batch diverge on click $id: " +
        s"stream=$v batch=${batch(id)}")
    }
    assert(got.keySet == Set(1L, 2L, 3L, 98L, 99L),
      s"emitted set ${got.keySet}")
  }

  test("streaming: funnel advances match the q123 fold under out-of-order arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(us: Long) = new java.sql.Timestamp(us / 1000) // whole-ms fixture
    val M = 1000000L
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    // Lateness must COVER the planned disorder: u20's click arrives one
    // trigger after an event 15 s ahead of it, so a 5 s watermark would
    // make it contract-violating late data — 30 s keeps the watermark
    // behind it until it lands.
    val q = EventsStream.funnelStream(
        mem.toDF().toDF("user_id", "ts", "event_type")
          .withWatermark("ts", "30 seconds")
          .as[EventsStream.FunnelEvent])
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    // u10 converts fully in order. u20's click arrives one trigger LATE
    // with an event time BETWEEN its view and purchase — arrival-order
    // folding would strand u20 at stage 1; watermark buffering must
    // reorder and reach stage 3. u30's click ties its view (strict `>`
    // never advances) — stage stays 1.
    mem.addData((10L, ts(10 * M), "view"), (10L, ts(20 * M), "click"),
      (10L, ts(30 * M), "purchase"),
      (20L, ts(10 * M), "view"), (20L, ts(25 * M), "purchase"),
      (30L, ts(5 * M), "view"), (30L, ts(5 * M), "click"))
    q.processAllAvailable()
    mem.addData((20L, ts(15 * M), "click")) // out-of-order, pre-purchase
    q.processAllAvailable()
    // Sentinels push the watermark far past every buffered event.
    for (s <- Seq(500L, 600L, 700L)) {
      mem.addData((999L, ts(s * M), "view"))
      q.processAllAvailable()
    }
    val advances = spark.table("funnel_stream")
      .groupBy(col("user_id")).agg(max(col("stage")).as("stage"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    q.stop()
    // Batch: the same finite input through the shared q123 fold.
    val batch = Seq((10L, 10 * M, "view"), (10L, 20 * M, "click"),
        (10L, 30 * M, "purchase"), (20L, 10 * M, "view"),
        (20L, 25 * M, "purchase"), (20L, 15 * M, "click"),
        (30L, 5 * M, "view"), (30L, 5 * M, "click"))
      .toDF("user_id", "tsm", "event_type")
      .groupBy($"user_id")
      .agg(array_sort(collect_list(struct($"tsm", $"event_type")))
        .as("_evs"))
      .withColumn("stage", expr(
        graft.operators.RelationalQueries.funnelFoldExpr()))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("stage")).toMap
    assert(advances(10L) == 3L && advances(20L) == 3L && advances(30L) == 1L,
      s"stream advances: $advances")
    for ((u, s) <- batch if u != 999L) {
      assert(advances.getOrElse(u, 0L) == s,
        s"stream/batch diverge on user $u: stream=${advances.get(u)} batch=$s")
    }
  }

  test("streaming: ewma scores match the q129 fold under out-of-order arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val M = 1000000L
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val q = EventsStream.ewmaStream(
        mem.toDF().toDF("user_id", "ts", "cents")
          .withWatermark("ts", "30 seconds")
          .as[EventsStream.ScoredEvent])
      .writeStream.format("memory").queryName("ewma_stream")
      .outputMode("append").start()
    // u1's middle event (2000 cents at 20 s) arrives one trigger LATE:
    // arrival-order folding would compute 1000→500→… wrong chain; the
    // watermark buffer must fold 1000, 2000, 500 in event-time order
    // (the q129 hand chain: 1000 → 1100 → 1040).
    mem.addData((1L, ts(10 * M), 1000L), (1L, ts(30 * M), 500L))
    q.processAllAvailable()
    mem.addData((1L, ts(20 * M), 2000L))
    q.processAllAvailable()
    for (s <- Seq(500L, 600L, 700L)) {
      mem.addData((999L, ts(s * M), 7L))
      q.processAllAvailable()
    }
    val got = spark.table("ewma_stream").as[EventsStream.EwmaUpdate]
      .collect().filter(_.user_id == 1L).sortBy(_.tsm)
    q.stop()
    assert(got.map(_.ewma_cents).toSeq == Seq(1000L, 1100L, 1040L),
      s"got ${got.toSeq}")
    // Final emitted score equals the q129 batch fold on the same input.
    val batch = Seq((1L, 10L * M, 1000L), (1L, 20L * M, 2000L),
        (1L, 30L * M, 500L)).toDF("user_id", "tsm", "cents")
      .groupBy($"user_id")
      .agg(array_sort(collect_list(struct($"tsm", $"cents"))).as("_evs"))
      .select($"user_id", expr("""aggregate(
        |  slice(transform(_evs, e -> e.cents), 2, size(_evs) - 1),
        |  _evs[0].cents,
        |  (a, x) -> (900000L * a + 100000L * x) div 1000000L)"""
        .stripMargin).as("s"))
      .collect().head.getLong(1)
    assert(got.last.ewma_cents == batch, s"stream ${got.last} vs batch $batch")
  }

  test("streaming: journey snapshots converge to the q131 table, out of order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val M = 1000000L
    // u1 runs the full journey with its click arriving one trigger late;
    // u2 has a same-timestamp click+purchase tie (the click must still
    // attribute); u3 only views.
    val rows = Seq(
      (1L, 10 * M, "view", 1000L), (1L, 3700 * M, "purchase", 500L),
      (2L, 50 * M, "view", 100L), (2L, 80 * M, "click", 200L),
      (2L, 80 * M, "purchase", 300L),
      (3L, 5 * M, "view", 50L))
    val late = (1L, 20 * M, "click", 2000L) // between u1's view and purchase
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, Long)]
    val q = EventsStream.journeyStream(
        mem.toDF().toDF("user_id", "ts", "event_type", "cents")
          .withWatermark("ts", "1 hour 5 minutes")
          .as[EventsStream.JourneyEvent])
      .writeStream.format("memory").queryName("journey_stream")
      .outputMode("append").start()
    mem.addData(rows.map { case (u, t, e, c) => (u, ts(t), e, c) }: _*)
    q.processAllAvailable()
    mem.addData((late._1, ts(late._2), late._3, late._4))
    q.processAllAvailable()
    for (s <- Seq(50000L, 60000L, 70000L)) {
      mem.addData((999L, ts(s * M), "view", 1L))
      q.processAllAvailable()
    }
    val finalSnap = spark.table("journey_stream")
      .as[EventsStream.JourneyUpdate].collect()
      .filter(_.user_id != 999L)
      .groupBy(_.user_id).map { case (u, v) => u -> v.maxBy(_.tsm) }
    q.stop()
    // The batch flagship over the identical finite input.
    val batch = graft.operators.RelationalQueries.userJourney(
        (rows :+ late).toDF("user_id", "tsm", "event_type", "cents"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    for ((u, snap) <- finalSnap) {
      val b = batch(u)
      val got = (snap.n_events, snap.n_sessions, snap.funnel_stage,
        snap.conversions, snap.ewma_cents, snap.attributed_clicks)
      assert(got == b, s"user $u: stream $got vs batch $b")
    }
    assert(finalSnap.keySet == Set(1L, 2L, 3L))
  }

  test("streaming: fingerprint dedup drops duplicates within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val docs = mem.toDF().toDF("ts", "doc_id", "text")
    val q = graft.streaming.DocsStream.dedupStream(docs)
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    // Same normalized text (case/whitespace differ) in one batch and again
    // in the next: only the first arrival survives.
    mem.addData((ts(0), 1L, "Hello  World"), (ts(1), 2L, "hello world"),
      (ts(2), 3L, "other text"))
    q.processAllAvailable()
    mem.addData((ts(10), 4L, "HELLO WORLD"), (ts(11), 5L, "fresh doc"))
    q.processAllAvailable()
    val out = spark.table("dedup").collect().map(_.getAs[Long]("doc_id")).toSet
    q.stop()
    assert(out == Set(1L, 3L, 5L), s"got $out")
  }

  test("streaming: curation stream gates quality, dedups, samples on one feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String, String)]
    val docs = mem.toDF().toDF("ts", "doc_id", "lang", "text")
    // 31 tokens, avg length (30·4+3)/31 ≈ 3.97, one stopword (ratio
    // 0.032), all bigrams distinct — passes every quality rule.
    val good = (1 to 30).map(i => f"w$i%02da").mkString(" ") + " the"
    val q = graft.streaming.DocsStream
      .curationStream(docs, Map("en" -> 1.0), defaultRate = 0.0)
      .writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    mem.addData(
      (ts(0), 1L, "en", good),        // keeps: quality ok, en rate 1.0
      (ts(1), 2L, "en", "too short"), // quality-gated out
      (ts(2), 3L, "de", good + " x")) // sampled out (default rate 0.0)
    q.processAllAvailable()
    // Second batch: a WHITESPACE-variant duplicate of doc 1 — identical
    // tokens (so it passes the quality gate, unlike a case variant whose
    // uppercased stopword would fail the stopword rule and never reach
    // dedup), same normalized fingerprint, inside the watermark horizon
    // → dropped by the dedup STATE specifically.
    mem.addData((ts(10), 4L, "en", good.replace(" ", "  ")))
    q.processAllAvailable()
    val out = spark.table("curated").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    q.stop()
    assert(out == Set(1L), s"got $out")
  }

  test("streaming: index probe finds a near-copy via the static band index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    try {
      // Row-local band rows must be hash-identical to the batch band
      // table — the property the stream-static join depends on.
      val batchBands = graft.llm.Dedup.bandTable(
          graft.llm.Dedup.hashedShingles(docs, "doc_id", "text"))
        .select(col("_id"), col("_band"), col("_bh"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val rowLocal = graft.llm.Dedup.bandRowsRowLocal(docs, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(rowLocal == batchBands, "row-local bands diverge from batch bands")

      graft.llm.Dedup.writeDedupIndex(docs, "doc_id", "text", "sidx")
      val target = docs.orderBy(col("doc_id")).limit(1)
        .collect().head
      val mem = MemoryStream[(Long, String)]
      val stream = mem.toDF().toDF("doc_id", "text")
      val q = graft.streaming.DocsStream.indexProbeStream(
          stream, "doc_id", "text", spark, "sidx")
        .writeStream.format("memory").queryName("probe")
        .outputMode("append").start()
      // A near-copy of a known doc plus an unrelated fresh doc.
      mem.addData((7000001L, target.getString(1) + " tailtok"),
        (7000002L, "zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8 zz9 zz10 zz11 zz12"))
      q.processAllAvailable()
      val hits = spark.table("probe").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("index_id"))
      q.stop()
      assert(hits.contains(7000001L -> target.getLong(0)),
        s"near-copy not matched: ${hits.toSeq}")
      assert(!hits.exists(_._1 == 7000002L), "fresh doc matched the index")
    } finally {
      spark.sql("DROP TABLE IF EXISTS sidx_bands")
      spark.sql("DROP TABLE IF EXISTS sidx_shingles")
    }
  }

  test("streaming: winnow probe — row-local fps hash-identical, hit + miss") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    try {
      // Hash-identity: the stream-safe row-local fingerprints must equal
      // the batch window-function table bit-for-bit.
      val batchFps = graft.llm.Dedup
        .winnowFingerprints(docs, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val rowLocal = graft.llm.Dedup
        .winnowFpsRowLocal(docs, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rowLocal == batchFps, "row-local fps diverge from batch fps")

      graft.llm.Dedup.writeWinnowIndex(docs, "doc_id", "text", "wsidx")
      // a long doc, so the suffix-append near-copy shares many fps
      val target = docs.withColumn("_n",
          size(split(trim(col("text")), "\\s+")))
        .filter(col("_n") >= 30).orderBy(col("doc_id")).limit(1)
        .collect().head
      val mem = MemoryStream[(Long, String)]
      val stream = mem.toDF().toDF("doc_id", "text")
      val q = graft.streaming.DocsStream.winnowProbeStream(
          stream, "doc_id", "text", spark, "wsidx")
        .writeStream.format("memory").queryName("wprobe")
        .outputMode("append").start()
      mem.addData((7000001L, target.getString(1) + " tailtok"),
        (7000002L, "zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8 zz9 zz10 zz11 zz12"))
      q.processAllAvailable()
      val hits = spark.table("wprobe").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("index_id"))
      q.stop()
      assert(hits.contains(7000001L -> target.getLong(0)),
        s"near-copy not matched: ${hits.take(10).toSeq}")
      assert(!hits.exists(_._1 == 7000002L), "fresh doc matched the index")
    } finally spark.sql("DROP TABLE IF EXISTS wsidx_winnow")
  }

  test("streaming: windowed aggregation with watermark finalizes windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventsStream.hourlyStats(events, lateness = "30 minutes")
      .writeStream.format("memory").queryName("hourly")
      .outputMode("append").start()
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    mem.addData((ts(10, 5), "click", 1.0), (ts(10, 20), "click", 2.0))
    q.processAllAvailable()
    // Advance watermark past 11:30 → the 10:00 window finalizes.
    mem.addData((ts(12, 1), "view", 1.0))
    q.processAllAvailable()
    val out = spark.table("hourly").collect()
    q.stop()
    assert(out.exists(r => r.getAs[Long]("n_events") == 2 &&
      r.getAs[String]("event_type") == "click" &&
      r.getAs[Double]("sum_value") == 3.0), out.mkString("\n"))
  }

  test("streaming: event-time sessionization closes on watermark passage") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val typed = mem.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "0 seconds")
      .as[EventsStream.Event]
    val q = EventsStream.sessionize(typed, gapMs = 60000)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    def ts(m: Int, s: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:$s%02d")
    mem.addData((ts(0, 0), "click", 1.0), (ts(0, 30), "click", 1.0))
    q.processAllAvailable()
    // Watermark jumps past 10:01:30 (last click + 60s gap) → the click
    // session times out and closes with 2 events.
    mem.addData((ts(5, 0), "view", 1.0))
    q.processAllAvailable()
    mem.addData((ts(9, 0), "view", 1.0)) // extra batch to fire timeouts
    q.processAllAvailable()
    val out = spark.table("sessions").as[EventsStream.Session].collect()
    q.stop()
    assert(out.exists(s => s.event_type == "click" && s.n_events == 2 &&
      s.closedAtMs == ts(0, 30).getTime), out.mkString("\n"))
  }

  test("streaming: native session_window finalizes merged sessions on watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The built-in q141 gates in batch, run as a stream: two events 20 s
    // apart merge into one session window; a third 10 min later starts
    // another; the watermark finalizes the first, and a late-but-valid
    // event extends nothing already emitted (append-mode contract).
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val q = mem.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "10 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "30 seconds"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("start"),
        col("n_events"))
      .writeStream.format("memory").queryName("native_sessions")
      .outputMode("append").start()
    def ts(m: Int, s: Int) =
      java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:$s%02d")
    mem.addData((1L, ts(0, 0)), (1L, ts(0, 20)))
    q.processAllAvailable()
    mem.addData((1L, ts(10, 0))) // pushes watermark past session 1
    q.processAllAvailable()
    mem.addData((1L, ts(20, 0)))
    q.processAllAvailable()
    val out = spark.table("native_sessions")
      .collect().map(r => (r.getTimestamp(1), r.getLong(2)))
    q.stop()
    assert(out.contains((ts(0, 0), 2L)),
      s"merged 2-event session not finalized: ${out.toSeq}")
    assert(!out.exists(_._1 == ts(0, 20)),
      s"the 20s event must merge, not start its own session: ${out.toSeq}")
  }

  test("streaming: batch form of hourlyStats matches q13's aggregation shape") {
    val e = Tables.t(spark, sf, "events")
    val out = EventsStream.hourlyStats(e)
    // Runs as a plain batch plan (watermark is a no-op in batch mode).
    assert(out.count() > 0)
    assert(out.columns.toSeq ==
      Seq("hour", "event_type", "n_events", "sum_value"))
  }

  test("streaming: frozen-vocab scoring matches the batch scorer and runs " +
    "map-only on a MemoryStream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val training = Seq((1L, "a a a a"), (2L, "b"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("svocab").toString
    graft.llm.Corpus.writeVocab(training, "doc_id", "text", dir)
    // Batch equality: vocab (3 tokens) fits any cap, so the map-literal
    // scorer must reproduce surprisalAgainstVocab row for row.
    def scores(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      df.collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("surprisal_ppm")))).toMap
    assert(scores(graft.streaming.DocsStream.scoreStream(
        training, "text", dir)) ==
      scores(graft.llm.Corpus.surprisalAgainstVocab(
        training, "doc_id", "text", dir)))
    // Cap pressure: with vocabCap = 1 only 'a' (count 5) survives; 'b'
    // falls to the OOV ceiling band floor(log2(8)) + 1 = 4.
    val capped = scores(graft.streaming.DocsStream.scoreStream(
      Seq((9L, "b")).toDF("doc_id", "text"), "text", dir, vocabCap = 1))
    assert(capped(9L) == ((1L, 4000000L)))
    // Stream run: same rows arrive on a MemoryStream; append mode must
    // accept the plan (no stateful stage) and produce the same scores.
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.DocsStream.scoreStream(
        mem.toDF().toDF("doc_id", "text"), "text", dir)
      .writeStream.format("memory").queryName("scored")
      .outputMode("append").start()
    mem.addData((1L, "a a a a"), (9L, "z a"))
    q.processAllAvailable()
    val out = spark.table("scored").collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("surprisal_ppm")).toMap
    q.stop()
    assert(out == Map(1L -> 0L, 9L -> 2000000L), s"got $out")
  }

  test("streaming: transition pairs match the q156 matrix, out of order, tied") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val M = 1000000L
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val q = EventsStream.transitionStream(
        mem.toDF().toDF("user_id", "ts", "event_id", "event_type")
          .withWatermark("ts", "30 seconds")
          .as[EventsStream.TransEvent])
      .writeStream.format("memory").queryName("trans_stream")
      .outputMode("append").start()
    // u1: a@10, c@30 arrive first; b@20 arrives a trigger LATE —
    // arrival-order pairing would emit (a,c); the buffer must yield
    // (a,b), (b,c). u2: two events TIE at 40 s — event_id decides
    // (id 1 "x" before id 2 "y"), the batch sort's exact rule.
    mem.addData((1L, ts(10 * M), 1L, "a"), (1L, ts(30 * M), 3L, "c"),
      (2L, ts(40 * M), 1L, "x"), (2L, ts(40 * M), 2L, "y"))
    q.processAllAvailable()
    mem.addData((1L, ts(20 * M), 2L, "b"))
    q.processAllAvailable()
    for (s <- Seq(500L, 600L, 700L)) {
      mem.addData((999L, ts(s * M), 9L, "v"))
      q.processAllAvailable()
    }
    val pairs = spark.table("trans_stream")
      .filter(col("user_id") < 999L)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    q.stop()
    // Batch twin on the same finite input.
    val batch = graft.operators.RelationalQueries.transitionMatrix(
        Seq((1L, 10 * M, 1L, "a"), (1L, 30 * M, 3L, "c"),
          (1L, 20 * M, 2L, "b"), (2L, 40 * M, 1L, "x"),
          (2L, 40 * M, 2L, "y"))
          .toDF("user_id", "tsm", "event_id", "event_type"),
        "user_id", "tsm", "event_id", "event_type")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(pairs == Map(("a", "b") -> 1L, ("b", "c") -> 1L,
      ("x", "y") -> 1L), s"stream pairs: $pairs")
    assert(pairs == batch, s"stream $pairs vs batch $batch")
  }

  test("streaming: kmv sketch converges to the batch estimate across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    // Hash BEFORE groupByKey with the batch sketch's exact draw.
    val hashed = mem.toDF().toDF("st", "key")
      .select(col("st").as("stratum"),
        graft.llm.Corpus.hashU32(col("key"), "kmv:").as("h"))
      .as[graft.streaming.EventsStream.KmvInput]
    val q = graft.streaming.EventsStream.kmvStream(hashed, k = 8)
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode("update").start()
    // Two batches so the state merge path runs (not just first-batch).
    mem.addData((1 to 30).map(i => ("a", i.toLong)) ++
      (1 to 5).map(i => ("b", i.toLong)): _*)
    q.processAllAvailable()
    mem.addData((21 to 60).map(i => ("a", i.toLong)) ++
      (4 to 7).map(i => ("b", i.toLong)): _*)
    q.processAllAvailable()
    // Latest emit per stratum = lexicographic (max n_sk, min hk):
    // n_sk grows until the sketch fills, then hk only shrinks.
    val out = spark.table("kmv_stream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).map { case (s, rows) =>
        s -> { val l = rows.maxBy(t => (t._2, -t._3)); (l._1, l._2, l._4) } }
    q.stop()
    // Batch twin over the same final key sets.
    val batch = graft.llm.Corpus.kmvSketch(
        ((1 to 60).map(i => ("a", i.toLong)) ++
          (1 to 7).map(i => ("b", i.toLong))).toDF("st", "key"),
        "key", "st", k = 8)
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_sk"), max(col("h")).as("hk"))
      .collect().map { r =>
        val n = r.getLong(1)
        val est = if (n < 8) n else 7L * 4294967296L / math.max(r.getLong(2), 1L)
        r.getString(0) -> (r.getString(0), n, est)
      }.toMap
    assert(out == batch, s"stream $out vs batch $batch")
    // Stratum b never reaches k=8 (7 distinct keys) — est must be exact.
    assert(out("b")._3 == 7L)
  }

  test("streaming: keyed-state interval join matches the batch join, out of order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val M = 1000000L; val H = 3600L * M
    val impMem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val clkMem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.toDF("user_id", "ts", "event_id")
    val q = graft.streaming.EventsStream.intervalJoinStreams(
        shape(impMem.toDF()), shape(clkMem.toDF()), windowMicros = H)
      .writeStream.format("memory").queryName("ij_keyed")
      .outputMode("append").start()
    // All event times sit on a +1h base: an event AT epoch 0 lands on
    // the initial-watermark boundary and Spark's late filter drops it —
    // a fixture artifact real event times never hit.
    val B = H
    // u1: imp@B with clicks at +10min and exactly +1h (inclusive) and
    // +1h+1s (excluded); u2: click BEFORE its impression never pairs.
    // The matching imp for u1's clicks arrives in a LATER trigger than
    // the first click — the cross-micro-batch case the native join
    // cannot do here.
    clkMem.addData((1L, ts(B + 600L * M), 900L), (2L, ts(B + 5L * M), 903L))
    q.processAllAvailable()
    impMem.addData((1L, ts(B), 100L), (2L, ts(B + 10L * M), 200L))
    clkMem.addData((1L, ts(B + H), 901L), (1L, ts(B + H + M), 902L))
    q.processAllAvailable()
    // Sentinel advances both watermarks past every event.
    impMem.addData((999L, ts(10L * H), 1L))
    clkMem.addData((999L, ts(10L * H), 2L))
    q.processAllAvailable()
    impMem.addData((999L, ts(20L * H), 3L))
    clkMem.addData((999L, ts(20L * H), 4L))
    q.processAllAvailable()
    val got = spark.table("ij_keyed")
      .filter(col("user_id") < 999L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    q.stop()
    val expect = Set((100L, 900L, 600L * M), (100L, 901L, H))
    assert(got == expect, s"got $got expect $expect")
    // Batch twin: the plain inner range join over the same finite input.
    val imps = Seq((1L, B, 100L), (2L, B + 10L * M, 200L))
      .toDF("user_id", "itsm", "imp_id")
    val clks = Seq((1L, B + 600L * M, 900L), (1L, B + H, 901L),
      (1L, B + H + M, 902L), (2L, B + 5L * M, 903L))
      .toDF("cuser", "ctsm", "click_id")
    val batch = imps.join(clks,
        col("user_id") === col("cuser") && col("ctsm") >= col("itsm") &&
          col("ctsm") <= col("itsm") + H)
      .select(col("imp_id"), col("click_id"),
        (col("ctsm") - col("itsm")).as("delta_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == batch, s"stream $got vs batch $batch")
  }

  test("streaming: kmv index sink maintains the persisted sketch; " +
    "replays are idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("kmvsink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("kmvsink-ck").toString
    try {
      val mem = MemoryStream[(String, Long)]
      def kmvSlots(b: org.apache.spark.sql.DataFrame) =
        graft.llm.Corpus.kmvSketch(b, "key", "st", k = 8).drop("kmv_rank")
      val q = graft.streaming.EventsStream.upsertSink(
        mem.toDF().toDF("st", "key"), s"$dir/idx", ckpt)(
        kmvSlots, graft.llm.Corpus.kmvMerge(8))
      mem.addData((1 to 30).map(i => ("a", i.toLong)): _*)
      q.processAllAvailable()
      mem.addData((21 to 60).map(i => ("a", i.toLong)) ++
        (1 to 5).map(i => ("b", i.toLong)): _*)
      q.processAllAvailable()
      q.stop()
      def slots(d: org.apache.spark.sql.DataFrame) = d
        .select(col("stratum"), col("h")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      val fromStream = slots(graft.llm.Corpus.readKmvIndex(spark, s"$dir/idx"))
      val oneShot = slots(graft.llm.Corpus.kmvSketch(
        ((1 to 60).map(i => ("a", i.toLong)) ++
          (1 to 5).map(i => ("b", i.toLong))).toDF("st", "key"),
        "key", "st", k = 8))
      assert(fromStream == oneShot)
      // At-least-once replay: upserting an already-merged batch is a
      // no-op on the slots (KMV merge idempotence).
      graft.sources.ShardStore.upsert(
        kmvSlots((21 to 60).map(i => ("a", i.toLong)).toDF("st", "key")),
        s"$dir/idx", graft.llm.Corpus.kmvMerge(8))
      assert(slots(graft.llm.Corpus.readKmvIndex(spark, s"$dir/idx"))
        == oneShot, "replayed merge changed the slots")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    }
  }

  test("streaming: bottom-k sample sink — merged index equals the " +
    "one-shot sample; replayed batch is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("bksink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bksink-ck").toString
    try {
      val mem = MemoryStream[(String, Long)]
      val q = graft.streaming.EventsStream.upsertSink(
        mem.toDF().toDF("st", "key"), s"$dir/idx", ckpt)(
        graft.llm.Corpus.bottomK(_, "key", "st", k = 5),
        graft.llm.Corpus.bottomKMerge("key", "st", 5))
      val b1 = (1 to 30).map(i => ("a", i.toLong))
      val b2 = (31 to 80).map(i => ("a", i.toLong)) ++
        (1 to 3).map(i => ("b", i.toLong))
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
      def picks(d: org.apache.spark.sql.DataFrame) = d
        .select(col("st"), col("key"), col("pick_rank")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val fromStream = picks(spark.read.parquet(s"$dir/idx"))
      val oneShot = picks(graft.llm.Corpus.bottomK(
        (b1 ++ b2).toDF("st", "key"), "key", "st", k = 5))
      assert(fromStream == oneShot,
        s"merged sample != one-shot: ${fromStream.diff(oneShot)}")
      // Short stratum keeps everything it has.
      assert(fromStream.count(_._1 == "b") == 3)
      // At-least-once replay: same md5 tickets, key-dedup → no-op.
      graft.sources.ShardStore.upsert(graft.llm.Corpus.bottomK(
        b2.toDF("st", "key"), "key", "st", k = 5), s"$dir/idx",
        graft.llm.Corpus.bottomKMerge("key", "st", 5))
      assert(picks(spark.read.parquet(s"$dir/idx")) == oneShot,
        "replayed batch changed the sample")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    }
  }

  test("streaming: search index sink shards per batch; serving equals " +
    "the one-shot scan and a replayed shard never double-counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("searchsink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("searchsink-ck").toString
    try {
      val mem = MemoryStream[(Long, String)]
      val q = graft.streaming.EventsStream.searchIndexSink(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        dir = s"$dir/idx", checkpointLoc = ckpt, buckets = 8)
      val b1 = Seq((1L, "spark merge spark vector data"),
        (2L, "merge vector vector"))
      val b2 = Seq((3L, "spark alone here"),
        (5L, "vector spark merge all three now"))
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
      val terms = Seq("spark", "merge", "vector")
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val served = rows(graft.llm.Corpus.bm25FromIndex(spark, s"$dir/idx",
        "doc_id", terms, topK = 10, buckets = 8))
      assert(served == rows(graft.llm.Corpus.bm25TopK(
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", terms,
        topK = 10)), "streamed index diverged from the one-shot scan")
      // At-least-once replay of batch 1: its shard overwrites itself.
      graft.llm.Corpus.writeSearchIndexShard(b2.toDF("doc_id", "text"),
        "doc_id", "text", s"$dir/idx", batchId = 1L, buckets = 8)
      assert(rows(graft.llm.Corpus.bm25FromIndex(spark, s"$dir/idx",
        "doc_id", terms, topK = 10, buckets = 8)) == served,
        "replayed shard changed the served ranking")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    }
  }

  test("streaming: bloom index sink maintains the set-bit table; " +
    "replays are idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("bloomsink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bloomsink-ck").toString
    try {
      val mem = MemoryStream[Long]
      val q = graft.streaming.EventsStream.upsertSink(
        mem.toDF().toDF("key"), s"$dir/idx", ckpt)(
        graft.llm.Corpus.bloomPositions(_, "key", k = 4, mBits = 1024),
        graft.llm.Corpus.bloomMerge)
      mem.addData(1L to 30L: _*)
      q.processAllAvailable()
      mem.addData(21L to 60L: _*) // overlap so the union is exercised
      q.processAllAvailable()
      q.stop()
      def bits(d: org.apache.spark.sql.DataFrame) =
        d.select(col("pos")).as[Long].collect().toSet
      val fromStream = bits(spark.read.parquet(s"$dir/idx"))
      val oneShot = bits(graft.llm.Corpus.bloomPositions(
        (1L to 60L).toDF("key"), "key", k = 4, mBits = 1024))
      assert(fromStream == oneShot, "streamed bits diverged from one-shot")
      // At-least-once replay: re-upserting a merged batch re-sets bits
      // already set — the index is bit-stable (set-union idempotence).
      graft.sources.ShardStore.upsert(graft.llm.Corpus.bloomPositions(
        (21L to 60L).toDF("key"), "key", k = 4, mBits = 1024), s"$dir/idx",
        graft.llm.Corpus.bloomMerge)
      assert(bits(spark.read.parquet(s"$dir/idx")) == oneShot,
        "replayed merge changed the set bits")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    }
  }

  test("streaming: histogram index sink shards per batch; a replayed " +
    "shard overwrites itself, never double-counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("histsink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("histsink-ck").toString
    def bins(d: org.apache.spark.sql.DataFrame) =
      d.select(expr("v div 100").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n"))
    try {
      val mem = MemoryStream[Long]
      val q = graft.streaming.EventsStream.shardSink(
        mem.toDF().toDF("v"), s"$dir/idx", ckpt)(bins)
      mem.addData(101L, 150L, 250L, 310L)
      q.processAllAvailable()
      mem.addData(120L, 255L, 255L, 990L)
      q.processAllAvailable()
      q.stop()
      def asMap(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exp = asMap(bins(
        Seq(101L, 150L, 250L, 310L, 120L, 255L, 255L, 990L).toDF("v")))
      val got = asMap(
        graft.operators.RelationalQueries.histMerge(
        graft.sources.ShardStore.live(spark, s"$dir/idx")))
      assert(got == exp, s"got $got vs $exp")
      // Replay batch 1's shard (same batch_id): dynamic partition
      // overwrite replaces it in place — totals unchanged.
      graft.sources.ShardStore.writeShard(
        bins(Seq(120L, 255L, 255L, 990L).toDF("v")), batchId = 1L,
        dir = s"$dir/idx")
      assert(asMap(graft.operators.RelationalQueries.histMerge(
        graft.sources.ShardStore.live(spark, s"$dir/idx"))) == exp,
        "replayed shard double-counted")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    }
  }

  test("streaming: scd2 index sink — out-of-order CDC batches converge " +
    "to the batch scd2 (late change splits a collapsed run); replay " +
    "is idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("scd2sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("scd2sink-ck").toString
    val R = graft.operators.RelationalQueries
    try {
      val mem = MemoryStream[(Long, Long, Long, Long)]
      val q = graft.streaming.EventsStream.scd2IndexSink(
        mem.toDF().toDF("key", "tsm", "tie", "k"),
        "key", "tsm", "tie", "k", dir = s"$dir/idx",
        checkpointLoc = ckpt, buckets = 4)
      // Batch 1: key 1 holds k=5 at t=100 and t=300 (collapses to ONE
      // run); key 2 opens at 100.
      val b1 = Seq((1L, 100L, 1L, 5L), (1L, 300L, 3L, 5L),
        (2L, 100L, 4L, 9L))
      // Batch 2 arrives LATE: k=7 at t=200 lands inside key 1's
      // collapsed run — correct SCD2 must split it AND restore k=5 at
      // t=300, which only the kept raw log still knows; key 2's
      // same-value change must still collapse.
      val b2 = Seq((1L, 200L, 2L, 7L), (2L, 400L, 5L, 9L))
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
      def hist(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("key"), r.getAs[Long]("k"),
          r.getAs[Long]("valid_from"), Option(r.getAs[Any]("valid_to")),
          r.getAs[Long]("is_current"))).toSet
      val got = hist(R.readScd2Index(spark, s"$dir/idx"))
      val exp = hist(R.scd2((b1 ++ b2).toDF("key", "tsm", "tie", "k"),
        "key", "tsm", "tie", "k"))
      assert(got == exp, s"streamed scd2 diverged:\n$got\nvs\n$exp")
      assert(got.contains((1L, 7L, 200L, Some(300L), 0L)),
        "late change did not split the collapsed run")
      assert(got.contains((1L, 5L, 300L, None, 1L)),
        "post-split value not restored from the raw log")
      assert(got.count(_._1 == 2L) == 1,
        "cross-batch same-value change must still collapse")
      // At-least-once replay of batch 2: the log dedups on
      // (key, ts, tie) — the index is bit-stable.
      R.upsertScd2Index(b2.toDF("key", "tsm", "tie", "k"),
        "key", "tsm", "tie", "k", s"$dir/idx", buckets = 4)
      assert(hist(R.readScd2Index(spark, s"$dir/idx")) == exp,
        "replayed CDC batch corrupted the history")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    }
  }

  test("streaming: grouped quantile index sink — per-key shards merge " +
    "to the per-batch grouped sketches; replayed shard in place") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("gqsksink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("gqsksink-ck").toString
    try {
      val mem = MemoryStream[(Long, String, Long)]
      val q = graft.streaming.EventsStream.shardSink(
        mem.toDF().toDF("id", "k", "v0"), s"$dir/idx", ckpt)(
        graft.operators.RelationalQueries.quantileSketch(_, Seq("k"), "id",
          "v0", 4, 8))
      val b1 = (1 to 60).map(i => (i.toLong, if (i % 3 == 0) "a" else "b",
        (i * 37L) % 101))
      val b2 = (61 to 140).map(i => (i.toLong, if (i % 3 == 0) "a" else "b",
        (i * 37L) % 101))
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
      def bag(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(identity).view.mapValues(_.size).toMap
      val exp = bag(Seq(b1, b2).map(b =>
        graft.operators.RelationalQueries.quantileSketch(
          b.toDF("id", "k", "v0"), Seq("k"), "id", "v0", 4, 8))
        .reduce(_ unionByName _)
        .groupBy(col("k"), col("v")).agg(sum(col("w")).as("w")))
      assert(bag(graft.operators.RelationalQueries.quantileMerge(Seq("k"))(
        graft.sources.ShardStore.live(spark, s"$dir/idx"))
        .select(col("k"), col("v"), col("w"))) == exp)
      graft.sources.ShardStore.writeShard(
        graft.operators.RelationalQueries.quantileSketch(
          b2.toDF("id", "k", "v0"), Seq("k"), "id", "v0", 4, 8),
        batchId = 1L, dir = s"$dir/idx")
      assert(bag(graft.operators.RelationalQueries.quantileMerge(Seq("k"))(
        graft.sources.ShardStore.live(spark, s"$dir/idx"))
        .select(col("k"), col("v"), col("w"))) == exp,
        "replayed grouped quantile shard double-counted")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    }
  }

  test("streaming: vector index sink — stream-built IVF probes equal " +
    "the batch-appended index under the same frozen centroids; " +
    "replayed shard never duplicates vectors") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivfsink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivfsink-ck").toString
    val S = graft.llm.Similarity
    def vec(i: Int): Array[Float] =
      Array.tabulate(8)(d => ((i * (d + 3)) % 17 - 8).toFloat / 4f)
    val b1 = (0 to 49).map(i => (i.toLong, vec(i)))
    val b2 = (50 to 99).map(i => (i.toLong, vec(i)))
    val queries = Seq(7, 23, 61).map(i => (1000L + i, vec(i))).toDF("vec_id", "embedding")
    try {
      // Same frozen quantizer on both sides (seed = batch 1).
      S.writeIvfCentroids(b1.toDF("vec_id", "embedding"),
        "vec_id", "embedding", s"$dir/stream", centroidEvery = 10)
      S.writeIvfCentroids(b1.toDF("vec_id", "embedding"),
        "vec_id", "embedding", s"$dir/batch", centroidEvery = 10)
      S.appendToIvfIndex(b1.toDF("vec_id", "embedding"),
        "vec_id", "embedding", s"$dir/batch")
      S.appendToIvfIndex(b2.toDF("vec_id", "embedding"),
        "vec_id", "embedding", s"$dir/batch")
      val mem = MemoryStream[(Long, Array[Float])]
      val q = graft.streaming.EventsStream.vectorIndexSink(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        dir = s"$dir/stream", checkpointLoc = ckpt)
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
      def res(idx: String) = S.ivfKnnIndexed(queries, "vec_id",
          "embedding", idx, k = 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .toSet
      val streamed = res(s"$dir/stream")
      assert(streamed == res(s"$dir/batch"),
        "stream-built index diverged from the batch-appended one")
      // Redelivered batch 2: its shard overwrites itself — probe
      // results are bit-stable (appendToIvfIndex would duplicate here).
      S.writeIvfShard(b2.toDF("vec_id", "embedding"), "vec_id",
        "embedding", s"$dir/stream", batchId = 1L)
      assert(res(s"$dir/stream") == streamed,
        "replayed vector shard changed probe results")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    }
  }

  test("streaming: decontamination ingest gate — per-batch admission " +
    "log equals the batch bloom-gated form; replayed batch in place") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("decontam").toString
    val ckpt = java.nio.file.Files.createTempDirectory("decontam-ck").toString
    try {
      val bench = Seq((100L, "b1 b2 b3 b4 x9 x8")).toDF("doc_id", "text")
      graft.llm.Corpus.writeDecontamIndex(bench, "doc_id", "text",
        s"$dir/idx", spanTokens = 4, k = 2, mBits = 256)
      val mem = MemoryStream[(Long, String)]
      val q = graft.streaming.EventsStream.decontamSink(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        idxDir = s"$dir/idx", outDir = s"$dir/log", checkpointLoc = ckpt,
        spanTokens = 4, k = 2, mBits = 256)
      val b1 = Seq((1L, "b1 b2 b3 b4 tail tokens here"),
        (2L, "clean doc nothing shared at all"))
      val b2 = Seq((3L, "x9 x8 not enough width"),
        (4L, "b2 b3 b4 x9 embedded mid doc"))
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_windows"),
          r.getAs[Long]("n_contaminated"))).toSet
      val got = rows(spark.read.parquet(s"$dir/log")
        .select(col("doc_id"), col("n_windows"), col("n_contaminated")))
      val exp = rows(graft.llm.Corpus.bloomGatedContamination(
        (b1 ++ b2).toDF("doc_id", "text"), bench, "doc_id", "text",
        spanTokens = 4, k = 2, mBits = 256))
      assert(got == exp, s"streamed admission log diverged:\n$got\n$exp")
      // Replayed batch: its shard overwrites itself.
      graft.sources.ShardStore.writeShard(
        graft.llm.Corpus.decontamProbe(b2.toDF("doc_id", "text"),
          "doc_id", "text", s"$dir/idx", spanTokens = 4, k = 2,
          mBits = 256), batchId = 1L, dir = s"$dir/log")
      assert(rows(spark.read.parquet(s"$dir/log")
        .select(col("doc_id"), col("n_windows"), col("n_contaminated")))
        == exp, "replayed admission batch duplicated rows")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    }
  }

  test("streaming: classifier gate — frozen-model scores equal the " +
    "batch form; replayed batch overwrites in place") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("clsink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("clsink-ck").toString
    try {
      val train = Seq(("p1", "good clean prose text", true),
        ("p2", "clean text", true),
        ("n1", "spam spam buy buy", false)).toDF("doc_id", "text", "pos")
      val model = graft.llm.Classify.nbTrain(train, "text", col("pos"))
      graft.llm.Classify.saveModel(model, s"$dir/model")
      val mem = MemoryStream[(String, String)]
      val q = graft.streaming.EventsStream.classifySink(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        modelDir = s"$dir/model", outDir = s"$dir/log",
        checkpointLoc = ckpt)
      val b1 = Seq(("d1", "clean prose text here"), ("d2", "buy spam now"))
      val b2 = Seq(("d3", "totally unseen tokens everywhere"))
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[String]("doc_id"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("score"))).toSet
      val got = rows(spark.read.parquet(s"$dir/log")
        .select("doc_id", "n_tokens", "score"))
      val exp = rows(graft.llm.Classify.nbScore(
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text",
        graft.llm.Classify.loadModel(spark, s"$dir/model")))
      assert(got == exp, s"streamed score log diverged:\n$got\n$exp")
      // Replayed batch: its shard overwrites itself, no duplicates.
      graft.sources.ShardStore.writeShard(
        graft.llm.Classify.nbScore(b2.toDF("doc_id", "text"),
          "doc_id", "text",
          graft.llm.Classify.loadModel(spark, s"$dir/model")),
        batchId = 1L, dir = s"$dir/log")
      assert(rows(spark.read.parquet(s"$dir/log")
        .select("doc_id", "n_tokens", "score")) == exp,
        "replayed score batch duplicated rows")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    }
  }

  test("streaming: quantile index sink — merged shards equal the " +
    "per-batch batch sketches; replayed shard overwrites in place") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("qsksink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("qsksink-ck").toString
    try {
      val mem = MemoryStream[(Long, Long)]
      val q = graft.streaming.EventsStream.shardSink(
        mem.toDF().toDF("id", "v0"), s"$dir/idx", ckpt)(
        graft.operators.RelationalQueries.quantileSketch(_, Nil, "id", "v0",
          4, 8))
      val b1 = (1 to 60).map(i => (i.toLong, (i * 37L) % 101))
      val b2 = (61 to 140).map(i => (i.toLong, (i * 37L) % 101))
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
      def bag(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).groupBy(identity)
        .view.mapValues(_.size).toMap
      val exp = bag(Seq(b1, b2).map(b =>
        graft.operators.RelationalQueries.quantileSketch(
          b.toDF("id", "v0"), Nil, "id", "v0", 4, 8))
        .reduce(_ unionByName _)
        .groupBy(col("v")).agg(sum(col("w")).as("w")))
      assert(bag(graft.operators.RelationalQueries.quantileMerge(Nil)(
        graft.sources.ShardStore.live(spark, s"$dir/idx"))) == exp)
      // Weight total = rows ingested; replayed shard must not change it.
      graft.sources.ShardStore.writeShard(
        graft.operators.RelationalQueries.quantileSketch(
          b2.toDF("id", "v0"), Nil, "id", "v0", 4, 8),
        batchId = 1L, dir = s"$dir/idx")
      assert(bag(graft.operators.RelationalQueries.quantileMerge(Nil)(
        graft.sources.ShardStore.live(spark, s"$dir/idx"))) == exp,
        "replayed quantile shard double-counted")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    }
  }

  test("streaming: cms index sink shards per batch; a replayed shard " +
    "overwrites itself; merged sketch equals the one-shot build") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cmssink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cmssink-ck").toString
    try {
      val mem = MemoryStream[Long]
      val q = graft.streaming.EventsStream.shardSink(
        mem.toDF().toDF("key"), s"$dir/idx", ckpt)(
        graft.llm.Corpus.cmsBuild(_, "key", depth = 3, width = 16))
      val b1 = (1 to 40).map(i => (i % 11).toLong)
      val b2 = (20 to 90).map(i => (i % 11).toLong)
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
      def cells(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val exp = cells(graft.llm.Corpus.cmsBuild(
        (b1 ++ b2).toDF("key"), "key", depth = 3, width = 16)
        .select(col("r"), col("c"), col("n")))
      assert(cells(graft.llm.Corpus.cmsMerge(
        graft.sources.ShardStore.live(spark, s"$dir/idx"))) == exp)
      // At-least-once replay of batch 1's shard: dynamic partition
      // overwrite replaces it in place — cell counts unchanged (the
      // replay guard CMS addition needs, unlike KMV's idempotent union).
      graft.sources.ShardStore.writeShard(
        graft.llm.Corpus.cmsBuild(b2.toDF("key"), "key",
          depth = 3, width = 16), batchId = 1L, dir = s"$dir/idx")
      assert(cells(graft.llm.Corpus.cmsMerge(
        graft.sources.ShardStore.live(spark, s"$dir/idx"))) == exp,
        "replayed cms shard double-counted")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    }
  }

  private def batchDirs(path: String): Seq[String] =
    new java.io.File(path).listFiles.toSeq.map(_.getName)
      .filter(_.startsWith("batch_id="))

  test("streaming: mergeable Misra-Gries index — served estimates " +
    "bracket true counts, heavy keys always reported, replay and " +
    "compaction stable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("mgsink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("mgsink-ck").toString
    try {
      // Zipf-ish key stream: key j appears ~600/j times per wave.
      def wave(seed: Int) = (1 to 20).flatMap(j =>
        (1 to 600 / j).map(i => s"k$j"))
      val b1 = wave(1); val b2 = wave(2) ++ (1 to 40).map(i => s"rare$i")
      val mem = MemoryStream[String]
      val q = graft.streaming.EventsStream.shardSink(
        mem.toDF().toDF("key"), s"$dir/idx", ckpt)(
        graft.llm.Corpus.mgSummary(_, "key", 8), graft.llm.Corpus.mgFold(_, 8))
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
      val truth = (b1 ++ b2).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      def served() = graft.llm.Corpus.mgFromShards(spark, s"$dir/idx", 8)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val rows0 = served()
      assert(rows0.nonEmpty)
      val err = rows0.head._3
      rows0.foreach { case (k, est, e) =>
        assert(est <= truth(k) && truth(k) <= est + e,
          s"$k: est $est, true ${truth(k)}, err $e")
      }
      // Completeness: every key with true count > err_bound is reported.
      val reported = rows0.map(_._1).toSet
      truth.filter(_._2 > err).keys.foreach(k =>
        assert(reported(k), s"heavy key $k (n=${truth(k)}) missing, err $err"))
      // Replayed batch overwrites its own shard — serve unchanged.
      graft.sources.ShardStore.writeShard(
        graft.llm.Corpus.mgSummary(b2.toDF("key"), "key", 8),
        batchId = 1L, dir = s"$dir/idx")
      assert(served().toSet == rows0.toSet, "replayed shard drifted")
      // Compaction: a summary of summaries is a summary — same serve.
      graft.sources.ShardStore.compact(spark, s"$dir/idx",
        graft.llm.Corpus.mgFold(_, 8))
      assert(served().toSet == rows0.toSet, "compaction changed serving")
      assert(batchDirs(s"$dir/idx").size == 1)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    }
  }

  test("shard compaction: cms base fold bit-identical; replayed " +
    "pre-horizon shard dropped; partition count collapses") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cmscompact").toString
    try {
      val bs = Seq(
        (1 to 40).map(i => (i % 11).toLong),
        (20 to 90).map(i => (i % 11).toLong),
        (5 to 55).map(i => (i % 7).toLong))
      bs.zipWithIndex.foreach { case (b, i) =>
        graft.sources.ShardStore.writeShard(
          graft.llm.Corpus.cmsBuild(b.toDF("key"), "key",
            depth = 3, width = 16), batchId = i.toLong, dir = s"$dir/idx")
      }
      def cells() = graft.llm.Corpus.cmsMerge(
        graft.sources.ShardStore.live(spark, s"$dir/idx")).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val exp = cells()
      assert(batchDirs(s"$dir/idx").size == 3)
      graft.sources.ShardStore.compact(spark, s"$dir/idx",
        graft.llm.Corpus.cmsMerge)
      assert(cells() == exp, "compacted CMS diverges from the shard sum")
      assert(batchDirs(s"$dir/idx") == Seq("batch_id=-4"),
        s"fold did not collapse: ${batchDirs(s"$dir/idx")}")
      // At-least-once replay of a PRE-HORIZON batch: its partition
      // re-lands (the sink is untouched) but the live view drops it —
      // the marker upgrades "overwrite yourself" to "or be ignored".
      graft.sources.ShardStore.writeShard(
        graft.llm.Corpus.cmsBuild(bs(1).toDF("key"), "key",
          depth = 3, width = 16), batchId = 1L, dir = s"$dir/idx")
      assert(batchDirs(s"$dir/idx").size == 2)
      assert(cells() == exp, "replayed pre-horizon shard double-counted")
      // A genuinely NEW batch keeps counting.
      val b3 = (100 to 160).map(i => (i % 13).toLong)
      graft.sources.ShardStore.writeShard(
        graft.llm.Corpus.cmsBuild(b3.toDF("key"), "key",
          depth = 3, width = 16), batchId = 3L, dir = s"$dir/idx")
      val exp4 = graft.llm.Corpus.cmsBuild(
        (bs.flatten ++ b3).toDF("key"), "key", depth = 3, width = 16)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(cells() == exp4)
      // Second compaction folds base + new shard, sweeps the dead
      // replayed partition, and stays bit-identical.
      graft.sources.ShardStore.compact(spark, s"$dir/idx",
        graft.llm.Corpus.cmsMerge)
      assert(cells() == exp4)
      assert(batchDirs(s"$dir/idx") == Seq("batch_id=-5"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("shard compaction: quantile (global + grouped) folds through the " +
    "deterministic recompaction; weights preserved") {
    import spark.implicits._
    import graft.operators.RelationalQueries.{compactQuantileSketch,
      quantileSketch}
    import graft.sources.ShardStore.{compact, live, writeShard}
    def mergedShards(dir: String, keys: Seq[String]) =
      graft.operators.RelationalQueries.quantileMerge(keys)(live(spark, dir))
    val dir = java.nio.file.Files.createTempDirectory("qcompact").toString
    try {
      val bs = Seq(
        (1 to 60).map(i => (i.toLong, (i * 37L) % 101)),
        (61 to 140).map(i => (i.toLong, (i * 53L) % 101)),
        (141 to 200).map(i => (i.toLong, (i * 11L) % 101)))
      val kb = bs.map(_.map { case (id, v) => (id % 3, id, v) })
      // One global and one grouped (key = id % 3) shard per batch.
      def writeShards(g: String, k: String): Unit =
        bs.indices.foreach { i =>
          writeShard(quantileSketch(bs(i).toDF("id", "v0"), Nil, "id",
            "v0", 4, 8), batchId = i.toLong, dir = g)
          writeShard(quantileSketch(kb(i).toDF("k", "id", "v0"),
            Seq("k"), "id", "v0", 4, 8), batchId = i.toLong, dir = k)
        }
      writeShards(s"$dir/g", s"$dir/k")
      def bag(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).groupBy(identity)
        .view.mapValues(_.size).toMap
      val merged = mergedShards(s"$dir/g", Nil)
      // The expected base = the SAME deterministic recompaction applied
      // to the merged bag in memory.
      val expBase = bag(compactQuantileSketch(merged, Nil, capacity = 16))
      compact(spark, s"$dir/g", compactQuantileSketch(_, Nil, capacity = 16))
      assert(bag(mergedShards(s"$dir/g", Nil)) == expBase)
      // Total weight (row count) survives compaction exactly.
      val wSum = mergedShards(s"$dir/g", Nil)
        .agg(sum(col("w"))).collect()(0).getLong(0)
      assert(wSum == bs.map(_.size).sum)
      // Grouped form: per-key recompaction, per-key weights exact.
      val mergedK = mergedShards(s"$dir/k", Seq("k"))
      def kbag(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(identity).view.mapValues(_.size).toMap
      val expK = kbag(compactQuantileSketch(mergedK, Seq("k"),
        capacity = 16))
      compact(spark, s"$dir/k",
        compactQuantileSketch(_, Seq("k"), capacity = 16))
      assert(kbag(mergedShards(s"$dir/k", Seq("k"))) == expK)
      val perKey = mergedShards(s"$dir/k", Seq("k"))
        .groupBy(col("k")).agg(sum(col("w")).as("w")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expPerKey = kb.flatten.groupBy(_._1)
        .view.mapValues(_.size.toLong).toMap
      assert(perKey == expPerKey, "per-key weights drifted in compaction")
      // Both folds again on a fresh dir under reliable checkpoints:
      // ShardStore.compact's lineage cut then writes checkpoint files
      // instead of local blocks, and the folded bags must not change.
      val (relBase, relK) = withReliableCheckpoints {
        writeShards(s"$dir/rg", s"$dir/rk")
        compact(spark, s"$dir/rg",
          compactQuantileSketch(_, Nil, capacity = 16))
        compact(spark, s"$dir/rk",
          compactQuantileSketch(_, Seq("k"), capacity = 16))
        (bag(mergedShards(s"$dir/rg", Nil)),
          kbag(mergedShards(s"$dir/rk", Seq("k"))))
      }
      assert(relBase == expBase && relK == expK,
        "reliable-checkpoint compaction diverged from the local one")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("shard compaction: stream-built IVF lists serve identically " +
    "after the fold; replayed pre-horizon shard dropped") {
    import spark.implicits._
    val S = graft.llm.Similarity
    val e = graft.Tables.t(spark, sf, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("ivfcompact").toString
    try {
      S.writeIvfCentroids(e, "vec_id", "embedding", dir, centroidEvery = 8)
      val b0 = e.filter(col("vec_id") % 2 === 0)
      val b1 = e.filter(col("vec_id") % 2 =!= 0)
      S.writeIvfShard(b0, "vec_id", "embedding", dir, batchId = 0L)
      S.writeIvfShard(b1, "vec_id", "embedding", dir, batchId = 1L)
      val q = e.filter(col("vec_id") % 100 === 0)
      def serve() = S.ivfKnnIndexed(q, "vec_id", "embedding", dir)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val before = serve()
      S.compactIvfShards(spark, dir)
      assert(serve() == before, "compacted IVF lists serve differently")
      assert(batchDirs(s"$dir/lists") == Seq("batch_id=-3"))
      // Replayed pre-horizon batch re-lands, read-side drops it: row
      // count through the live view stays |corpus|.
      S.writeIvfShard(b1, "vec_id", "embedding", dir, batchId = 1L)
      assert(serve() == before, "replayed shard changed serving")
      assert(graft.sources.ShardStore.live(spark, s"$dir/lists").count()
        == e.count())
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("shard store crash windows: unmarked orphan base dropped from " +
    "the live view; idle compact sweeps stale partitions") {
    import spark.implicits._
    val SS = graft.sources.ShardStore
    val dir = java.nio.file.Files.createTempDirectory("orphan").toString
    try {
      val bs = Seq(
        (1 to 40).map(i => (i % 11).toLong),
        (20 to 90).map(i => (i % 11).toLong))
      def hist(b: Seq[Long]) = b.toDF("v")
        .groupBy(($"v" % 4).as("bin")).agg(count(lit(1)).as("n"))
      bs.zipWithIndex.foreach { case (b, i) =>
        SS.writeShard(hist(b), batchId = i.toLong, dir = s"$dir/idx") }
      def served() = graft.operators.RelationalQueries.histMerge(
        SS.live(spark, s"$dir/idx")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exp = hist(bs.flatten).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(served() == exp)
      // FIRST-compaction crash between the base shard's write commit
      // and the _meta marker: a negative base partition exists with NO
      // marker pointing at it. The live view must drop it — negative
      // ids are reserved for bases — or every folded row double-counts.
      SS.writeShard(hist(bs.flatten), batchId = -3L, dir = s"$dir/idx")
      assert(batchDirs(s"$dir/idx").toSet ==
        Set("batch_id=0", "batch_id=1", "batch_id=-3"))
      assert(served() == exp, "unmarked orphan base double-counted")
      // The re-run compaction folds the SAME live view and commits the
      // marker; serving is unchanged and the orphan id is reused.
      SS.compact(spark, s"$dir/idx",
        graft.operators.RelationalQueries.histMerge)
      assert(served() == exp)
      assert(batchDirs(s"$dir/idx") == Seq("batch_id=-3"))
      // A replayed pre-horizon batch re-lands its (dead) partition.
      // An idle compact — nothing new to fold — must still sweep it:
      // the crash-window storage-leak contract.
      SS.writeShard(hist(bs(0)), batchId = 0L, dir = s"$dir/idx")
      assert(batchDirs(s"$dir/idx").toSet ==
        Set("batch_id=0", "batch_id=-3"))
      SS.compact(spark, s"$dir/idx",
        graft.operators.RelationalQueries.histMerge)
      assert(batchDirs(s"$dir/idx") == Seq("batch_id=-3"),
        "idle compact did not sweep the stale partition")
      assert(served() == exp)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("overwriteAtomic crash recovery: a half-swapped index (target " +
    "missing, complete copy at __old or __tmp) is restored instead of " +
    "silently reinitialized") {
    import spark.implicits._
    val C = graft.llm.Corpus
    val root = java.nio.file.Files.createTempDirectory("owrec").toString
    val dir = s"$root/idx"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def picks() = spark.read.parquet(dir)
      .select($"st", $"key").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    try {
      val b1 = (1L to 30L).map(k => ("a", k)) ++
        (1L to 3L).map(k => ("b", k))
      val b2 = (31L to 60L).map(k => ("a", k))
      graft.sources.ShardStore.upsert(C.bottomK(b1.toDF("st", "key"), "key",
        "st", k = 5), dir, C.bottomKMerge("key", "st", 5))
      // Crash between overwriteAtomic's two renames: target gone, the
      // accumulated copy stranded at __old. The next upsert must
      // RESTORE and merge — not read "no index yet" and reinit from
      // the batch alone (which would also delete __old at cleanup).
      assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
        new org.apache.hadoop.fs.Path(dir + "__old")))
      graft.sources.ShardStore.upsert(C.bottomK(b2.toDF("st", "key"), "key",
        "st", k = 5), dir, C.bottomKMerge("key", "st", 5))
      val expected = C.bottomK((b1 ++ b2).toDF("st", "key"),
        "key", "st", k = 5).select($"st", $"key").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(picks() == expected,
        "accumulated sample lost across the __old crash window")
      // The short stratum's rows came from b1 ONLY — proof the stored
      // copy was merged, not rebuilt from b2.
      assert(picks().count(_._1 == "b") == 3)
      // The other window: crash AFTER the new copy renamed to __tmp's
      // completion but BEFORE the final rename — __tmp is complete
      // (_SUCCESS present) and newer; recovery must prefer it.
      val s12 = picks()
      assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
        new org.apache.hadoop.fs.Path(dir + "__tmp")))
      assert(graft.sources.ShardStore.recoverOverwrite(spark, dir))
      assert(picks() == s12, "complete __tmp copy not restored")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "__tmp")))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("atomic merge crash window: an additive merge into a half-swapped " +
    "index fails and keeps __old; an idempotent upsert recovers to the " +
    "uninterrupted result") {
    import spark.implicits._
    val C = graft.llm.Corpus
    val SS = graft.sources.ShardStore
    val root = java.nio.file.Files.createTempDirectory("mergecrash").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def path(p: String) = new org.apache.hadoop.fs.Path(p)
    try {
      // Additive (CMS): target gone, the accumulated copy at __old. A
      // recovered swap may already hold the batch, so the merge must
      // not guess — it fails, and __old stays for an operator.
      def cms(keys: Seq[Long]) = C.cmsBuild(keys.toDF("key"), "key",
        depth = 3, width = 16)
      def cells(d: org.apache.spark.sql.DataFrame) = d
        .select(col("r"), col("c"), col("n")).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val b1 = (1L to 40L).map(_ % 11)
      val cmsDir = s"$root/cms"
      cms(b1).write.mode("overwrite").parquet(cmsDir)
      assert(fs.rename(path(cmsDir), path(cmsDir + "__old")))
      intercept[org.apache.spark.sql.AnalysisException] {
        SS.merge(cms((20L to 90L).map(_ % 11)), cmsDir, C.cmsMerge)
      }
      assert(!fs.exists(path(cmsDir)))
      assert(cells(spark.read.parquet(cmsDir + "__old")) == cells(cms(b1)),
        "the stranded copy was touched")
      // Idempotent (KMV): the same crash window, and the one where the
      // new copy completed at __tmp. The upsert recovers and merges;
      // the slots equal the uninterrupted run's.
      def kmv(keys: Seq[Long]) = C.kmvSketch(keys.map(k => ("a", k))
        .toDF("st", "key"), "key", "st", k = 8).drop("kmv_rank")
      def slots(dir: String) = spark.read.parquet(dir).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      val (k1, k2, k3) = (1L to 30L, 21L to 60L, 55L to 90L)
      val clean = s"$root/kmv_clean"
      kmv(k1).write.mode("overwrite").parquet(clean)
      SS.upsert(kmv(k2), clean, C.kmvMerge(8))
      SS.upsert(kmv(k3), clean, C.kmvMerge(8))
      val crashed = s"$root/kmv_crashed"
      kmv(k1).write.mode("overwrite").parquet(crashed)
      assert(fs.rename(path(crashed), path(crashed + "__old")))
      SS.upsert(kmv(k2), crashed, C.kmvMerge(8))
      assert(fs.rename(path(crashed), path(crashed + "__tmp")))
      SS.upsert(kmv(k3), crashed, C.kmvMerge(8))
      assert(slots(crashed) == slots(clean),
        "recovered upserts diverged from the uninterrupted run")
      assert(!fs.exists(path(crashed + "__old")) &&
        !fs.exists(path(crashed + "__tmp")))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("compactTable: small files collapse to the byte-target count, " +
    "rows bit-identical, partitioned layout preserved, crash window " +
    "recovered, at-target tables untouched") {
    import spark.implicits._
    val SS = graft.sources.ShardStore
    val root = java.nio.file.Files.createTempDirectory("ctab").toString
    val dir = s"$root/t"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFiles(d: String): Int = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(d), true)
      var n = 0
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    def rows(d: String) = spark.read.parquet(d).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    try {
      // 12 micro-appends -> at least 12 files (the streaming decay mode).
      (0 until 12).foreach { i =>
        Seq((i.toLong, s"v$i")).toDF("k", "v")
          .write.mode("append").parquet(dir) }
      val before = rows(dir)
      assert(parquetFiles(dir) >= 12)
      val Some((nb, na)) = SS.compactTable(spark, dir, targetBytes = 1L << 30)
      assert(nb >= 12 && na == 1, s"expected 1 file, got $nb -> $na")
      assert(rows(dir) == before, "compaction changed the rows")
      // Already at target: no-op.
      assert(SS.compactTable(spark, dir, targetBytes = 1L << 30).isEmpty)
      // Crash between the swap renames: target missing, copy at __old.
      assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
        new org.apache.hadoop.fs.Path(dir + "__old")))
      assert(SS.compactTable(spark, dir, targetBytes = 1L << 30).isEmpty)
      assert(rows(dir) == before, "crash recovery lost the table")
      // Partitioned layout: files merge WITHIN partitions, the
      // partition dirs survive, and pruning still reaches the scan.
      val pdir = s"$root/p"
      (0 until 6).foreach { i =>
        Seq((i.toLong, s"v$i", i % 2)).toDF("k", "v", "side")
          .write.mode("append").partitionBy("side").parquet(pdir) }
      val pBefore = spark.read.parquet(pdir).collect()
        .map(r => r.toSeq.toString).toSet
      val Some((pb, pa)) =
        SS.compactTable(spark, pdir, targetBytes = 1L << 30,
          partitionKeep = Seq("side"))
      assert(pb >= 6 && pa == 2, s"expected one file per side, got $pb -> $pa")
      assert(spark.read.parquet(pdir).collect()
        .map(r => r.toSeq.toString).toSet == pBefore)
      val plan = spark.read.parquet(pdir).filter($"side" === 1)
        .queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[.*side".r.findFirstIn(plan).isDefined,
        s"partition pruning lost after compaction:\n$plan")
      // Scheduled re-run: the no-op floor accounts for the partitioned
      // layout (one file per leaf dir is the minimum) — an
      // already-compacted table must NOT be rewritten forever.
      assert(SS.compactTable(spark, pdir, targetBytes = 1L << 30,
        partitionKeep = Seq("side")).isEmpty,
        "scheduled re-run rewrote an already-compacted partitioned table")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("sink autoCompact: the sharded index folds exactly when the " +
    "live shard count crosses the threshold; serving stays bit-equal; " +
    "below threshold untouched") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ES = graft.streaming.EventsStream
    val dir = java.nio.file.Files.createTempDirectory("autocomp").toString
    val ckpt = java.nio.file.Files.createTempDirectory("autocomp-ck").toString
    try {
      val mem = MemoryStream[Long]
      val q = ES.shardSink(mem.toDF().toDF("v"), s"$dir/idx", s"$ckpt/a",
        autoCompact = 2)(
        b => b.groupBy(($"v" % 4).as("bin")).agg(count(lit(1)).as("n")),
        graft.operators.RelationalQueries.histMerge)
      val bs = Seq(
        (1 to 40).map(_.toLong), (20 to 90).map(_.toLong),
        (5 to 55).map(_.toLong), (100 to 130).map(_.toLong))
      // Two batches: at or below threshold — no marker, no fold.
      bs.take(2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      assert(graft.sources.ShardStore.readMeta(spark, s"$dir/idx").isEmpty,
        "compacted below threshold")
      // Third batch crosses (3 > 2): the sink folds ONCE, in-band.
      mem.addData(bs(2): _*); q.processAllAvailable()
      val m = graft.sources.ShardStore.readMeta(spark, s"$dir/idx")
      assert(m.isDefined && m.get.horizon == 2L,
        s"threshold crossing did not compact: $m")
      assert(batchDirs(s"$dir/idx") == Seq(s"batch_id=${m.get.base}"))
      // Fourth batch lands as a fresh stream shard — no re-fold.
      mem.addData(bs(3): _*); q.processAllAvailable()
      q.stop()
      assert(graft.sources.ShardStore.readMeta(spark, s"$dir/idx") == m)
      assert(batchDirs(s"$dir/idx").toSet ==
        Set(s"batch_id=${m.get.base}", "batch_id=3"))
      val served = graft.operators.RelationalQueries.histMerge(
        graft.sources.ShardStore.live(spark, s"$dir/idx")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exp = bs.flatten.toDF("v")
        .groupBy(($"v" % 4).as("bin")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(served == exp, "autoCompact changed the served histogram")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    }
  }

  test("streaming re-crawl: searchIndexSink(upsert = true) retires old " +
    "doc versions batch by batch; serve equals the current-version " +
    "scan; autoCompact folds the index mid-stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val C = graft.llm.Corpus
    val dir = java.nio.file.Files.createTempDirectory("recrawl").toString
    val ckpt = java.nio.file.Files.createTempDirectory("recrawl-ck").toString
    try {
      val mem = MemoryStream[(Long, String)]
      val q = graft.streaming.EventsStream.searchIndexSink(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        dir = s"$dir/idx", checkpointLoc = s"$ckpt/q", buckets = 8,
        upsert = true, autoCompact = 2)
      val terms = Seq("spark", "merge", "vector")
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      def serve() = rows(C.bm25FromIndex(spark, s"$dir/idx", "doc_id",
        terms, topK = 10, buckets = 8))
      def scanOf(cur: Seq[(Long, String)]) = rows(C.bm25TopK(
        cur.toDF("doc_id", "text"), "doc_id", "text", terms, topK = 10))
      val b0 = Seq((1L, "spark merge spark vector data"),
        (2L, "merge vector vector"))
      val b1 = Seq((1L, "spark rewritten entirely"),      // re-crawl of 1
        (3L, "vector spark merge all three now"))
      val b2 = Seq((2L, "vector only now"),               // re-crawl of 2
        (4L, "spark spark merge"))
      mem.addData(b0: _*); q.processAllAvailable()
      assert(serve() == scanOf(b0))
      mem.addData(b1: _*); q.processAllAvailable()
      val cur1 = Seq(b1.head, b0(1)) ++ b1.tail
      assert(serve() == scanOf(cur1),
        "streamed re-crawl left the old version live")
      // Batch 2 retires doc 2 — shard 0's LAST doc, so the whole
      // shard 0 disappears (2 live shards, below threshold).
      mem.addData(b2: _*); q.processAllAvailable()
      val cur2 = Seq(b1.head, b2.head, b1(1), b2(1))
      assert(serve() == scanOf(cur2),
        "streamed re-crawl of a shard's last doc diverged")
      // Batch 3 lands the third live shard, crossing autoCompact=2:
      // the sink folds all three tables coherently.
      val b3 = Seq((5L, "merge data spark"))
      mem.addData(b3: _*); q.processAllAvailable()
      q.stop()
      val cur3 = cur2 ++ b3
      assert(serve() == scanOf(cur3),
        "upsert + autoCompact diverged from the current-version scan")
      val meta = graft.sources.ShardStore.readMeta(spark, s"$dir/idx/stats")
      assert(meta.exists(_.horizon == 3L),
        s"autoCompact never folded the search index: $meta")
      // At-least-once replay of the last batch AFTER its fold: the
      // horizon guard makes the whole upsert a no-op — without it the
      // retire would cut the batch's own docs out of the base while
      // the live view drops the re-landed replacement.
      C.upsertSearchIndexShard(b3.toDF("doc_id", "text"), "doc_id",
        "text", s"$dir/idx", batchId = 3L, buckets = 8)
      assert(serve() == scanOf(cur3), "replayed folded batch drifted")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    }
  }

  test("scheduled maintenance composition: the full janitor loop " +
    "(recover + compactIfNeeded + compactTable) twice back-to-back on " +
    "a live mid-stream index — serving bit-identical, second pass a " +
    "no-op end-to-end") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val C = graft.llm.Corpus
    val SS = graft.sources.ShardStore
    val dir = java.nio.file.Files.createTempDirectory("janitor").toString
    val ckpt = java.nio.file.Files.createTempDirectory("janitor-ck").toString
    try {
      // Surface 1: the three-table search index, maintained by the
      // upsert sink (autoCompact OFF — the janitor owns compaction).
      val mem = MemoryStream[(Long, String)]
      val q = graft.streaming.EventsStream.searchIndexSink(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        dir = s"$dir/idx", checkpointLoc = s"$ckpt/q", buckets = 8,
        upsert = true)
      // Surface 2: a plain parquet dir accreting small files (the
      // compactTable target an operator schedules alongside).
      (0 until 12).foreach(i => Seq((i.toLong, s"row $i"))
        .toDF("id", "payload").coalesce(1)
        .write.mode("append").parquet(s"$dir/plain"))
      val plainRows = spark.read.parquet(s"$dir/plain")
        .collect().map(_.toSeq).toSet
      val terms = Seq("spark", "merge", "vector")
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      def serve() = rows(C.bm25FromIndex(spark, s"$dir/idx", "doc_id",
        terms, topK = 10, buckets = 8))
      def scanOf(cur: Seq[(Long, String)]) = rows(C.bm25TopK(
        cur.toDF("doc_id", "text"), "doc_id", "text", terms, topK = 10))
      // Four micro-batches (one a re-crawl) → 4 live shards.
      val batches = Seq(
        Seq((1L, "spark merge spark vector data"), (2L, "merge vector")),
        Seq((3L, "vector spark merge all")),
        Seq((1L, "spark rewritten entirely"), (4L, "spark spark merge")),
        Seq((5L, "merge data spark vector")))
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val cur = Seq(batches(2)(0), batches(0)(1), batches(1)(0),
        batches(2)(1), batches(3)(0))
      val served0 = serve()
      assert(served0 == scanOf(cur))
      // Surface 3: a delta quad store with pending statements (the
      // janitor owns its compaction too). Its convergence cadence
      // differs by design — fold tick, then a sweep-only tick retiring
      // the grace-period leftovers, THEN byte-identical — so it gets
      // its own snapshot scope below.
      graft.graphquery.DeltaStore.update(spark, s"$dir/quads",
        """INSERT DATA { <urn:i/a> <urn:p/k> "1" .
          |  GRAPH <urn:d/1> { <urn:i/b> <urn:p/k> "2" . } } ;
          |DELETE DATA { <urn:i/a> <urn:p/k> "1" . }""".stripMargin)
      val quadRows = graft.graphquery.DeltaStore
        .serve(spark, s"$dir/quads").collect().map(_.toSeq).toSet
      // The cron body: every maintenance entry point, in the order an
      // operator's janitor would run them.
      def janitor(): Unit = {
        C.recoverSearchIndex(spark, s"$dir/idx")
        C.compactSearchIndexIfNeeded(spark, s"$dir/idx", maxShards = 2)
        SS.compactTable(spark, s"$dir/plain")
        graft.graphquery.DeltaStore.compact(spark, s"$dir/quads")
      }
      def snapshotOf(root: String): Set[(String, Long, Long)] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(new java.io.File(root))
          .map(f => (f.getPath, f.length, f.lastModified)).toSet
      }
      def snapshot(): Set[(String, Long, Long)] =
        snapshotOf(dir).filterNot(_._1.startsWith(s"$dir/quads"))
      def quadServe() = graft.graphquery.DeltaStore
        .serve(spark, s"$dir/quads").collect().map(_.toSeq).toSet
      // Pass 1 does real work: folds the 4 index shards, collapses the
      // 12 plain files, folds the quad deltas into a base version —
      // with serving and rows bit-identical across it.
      janitor()
      assert(serve() == served0, "janitor pass 1 changed serving")
      assert(spark.read.parquet(s"$dir/plain").collect()
        .map(_.toSeq).toSet == plainRows, "compactTable changed rows")
      assert(SS.readMeta(spark, s"$dir/idx/stats").exists(_.horizon == 3L),
        "janitor never folded the index")
      assert(quadServe() == quadRows, "janitor pass 1 changed the quad store")
      // Pass 2 immediately after: the contract a schedule relies on —
      // the converged stores are left byte-for-byte untouched (no
      // rewrite churn, no marker flapping) and serving still agrees.
      // The delta store's pass 2 is its sweep-only tick (retiring
      // grace-period leftovers, never rewriting the base); pass 3 must
      // leave it byte-identical too.
      val before = snapshot()
      janitor()
      assert(snapshot() == before,
        "second janitor pass touched a converged store")
      assert(serve() == served0)
      assert(quadServe() == quadRows)
      val quadsBefore = snapshotOf(s"$dir/quads")
      janitor()
      assert(snapshotOf(s"$dir/quads") == quadsBefore,
        "third janitor pass touched the converged quad store")
      assert(quadServe() == quadRows)
      // The stream keeps working against the compacted store.
      val b4 = Seq((6L, "vector vector spark"))
      mem.addData(b4: _*); q.processAllAvailable(); q.stop()
      assert(serve() == scanOf(cur ++ b4),
        "post-janitor batch diverged from the scan")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    }
  }

  test("Maintenance.runAll: ONE call on a mixed tree classifies every " +
    "store family and runs its recover/threshold-compact; second pass " +
    "no-op; nested-partition shards are skipped, not guessed at") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val C = graft.llm.Corpus
    val SS = graft.sources.ShardStore
    val M = graft.sources.Maintenance
    val dir = java.nio.file.Files.createTempDirectory("runall").toString
    val ckpt = java.nio.file.Files.createTempDirectory("runall-ck").toString
    try {
      // Family 1: three-table search index (4 live shards, no sink
      // auto-compact — the janitor owns it).
      val mem = MemoryStream[(Long, String)]
      val q = graft.streaming.EventsStream.searchIndexSink(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        dir = s"$dir/stores/idx", checkpointLoc = s"$ckpt/q", buckets = 8,
        upsert = true)
      Seq(
        Seq((1L, "spark merge spark vector data"), (2L, "merge vector")),
        Seq((3L, "vector spark merge all")),
        Seq((4L, "spark spark merge")),
        Seq((5L, "merge data spark vector"))
      ).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      def serve() = C.bm25FromIndex(spark, s"$dir/stores/idx", "doc_id",
        Seq("spark", "vector"), topK = 10, buckets = 8)
        .collect().map(_.toSeq).toSet
      // Family 2: delta quad store with pending statements.
      graft.graphquery.DeltaStore.update(spark, s"$dir/stores/quads",
        "INSERT DATA { <urn:i/a> <urn:p/k> \"1\" . } ; " +
          "INSERT DATA { <urn:i/b> <urn:p/k> \"2\" . }")
      def quadServe() = graft.graphquery.DeltaStore
        .serve(spark, s"$dir/stores/quads").collect().map(_.toSeq).toSet
      // Family 3: flat batch_id-sharded store (5 shards).
      (0L until 5L).foreach(i => SS.writeShard(Seq((i, i * 10)).toDF("k", "v"), i,
          s"$dir/stores/hist"))
      def histRows() = SS.live(spark, s"$dir/stores/hist")
        .select("k", "v").collect().map(_.toSeq).toSet
      // Family 4: plain parquet dir accreting small files.
      (0 until 8).foreach(i => Seq((i.toLong, s"row $i"))
        .toDF("id", "payload").coalesce(1)
        .write.mode("append").parquet(s"$dir/stores/plain"))
      // Family 5 (must be SKIPPED): shards with a nested partition
      // level — a generic identity compact would mix layouts.
      Seq((0L, 1L, "a"), (0L, 2L, "b")).toDF("batch_id", "k", "v")
        .write.partitionBy("batch_id", "k")
        .parquet(s"$dir/stores/nested")
      val (s0, q0, h0) = (serve(), quadServe(), histRows())
      val plain0 = spark.read.parquet(s"$dir/stores/plain")
        .collect().map(_.toSeq).toSet
      val nested0 = spark.read.parquet(s"$dir/stores/nested")
        .collect().map(_.toSeq).toSet

      val rep = M.runAll(spark, Seq(dir), maxShards = 2, maxDeltas = 1)
      assert(rep.searchIndexes == Seq(s"$dir/stores/idx"))
      assert(rep.deltaStores == Seq(s"$dir/stores/quads"))
      assert(rep.shardStores == Seq(s"$dir/stores/hist"))
      assert(rep.plainTables == Seq(s"$dir/stores/plain"))
      assert(rep.skipped.map(_._1) == Seq(s"$dir/stores/nested"))
      // Real work happened: index folded, hist folded, plain packed,
      // delta store grew a base version — with serving unchanged.
      assert(SS.readMeta(spark, s"$dir/stores/idx/stats")
        .exists(_.horizon == 3L), "runAll never folded the index")
      assert(SS.readMeta(spark, s"$dir/stores/hist")
        .exists(_.horizon == 4L), "runAll never folded the hist shards")
      assert(new java.io.File(s"$dir/stores/quads/base_v1").exists())
      assert(serve() == s0 && quadServe() == q0 && histRows() == h0)
      assert(spark.read.parquet(s"$dir/stores/plain")
        .collect().map(_.toSeq).toSet == plain0)
      assert(spark.read.parquet(s"$dir/stores/nested")
        .collect().map(_.toSeq).toSet == nested0)

      // Delta store's documented cadence: pass 2 is its sweep-only
      // grace tick; from pass 3 on the whole tree is byte-identical.
      M.runAll(spark, Seq(dir), maxShards = 2, maxDeltas = 1)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      def snapshot() = walk(new java.io.File(dir))
        .map(f => (f.getPath, f.length, f.lastModified)).toSet
      val before = snapshot()
      val rep3 = M.runAll(spark, Seq(dir), maxShards = 2, maxDeltas = 1)
      assert(snapshot() == before,
        "a third runAll pass touched a converged tree")
      assert(rep3.skipped.map(_._1) == Seq(s"$dir/stores/nested"))
      assert(serve() == s0 && quadServe() == q0 && histRows() == h0)
      // A BUSY delta store (another process's fresh writer lease) is
      // reported and skipped — never aborting the whole cron sweep —
      // and everything else still gets its maintenance. Fresh work
      // first, so the threshold trigger actually reaches the lease
      // acquisition (a converged store short-circuits on the listing).
      graft.graphquery.DeltaStore.update(spark, s"$dir/stores/quads",
        "INSERT DATA { <urn:i/c> <urn:p/k> \"3\" . } ; " +
          "INSERT DATA { <urn:i/d> <urn:p/k> \"4\" . }")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/stores/quads/_writer"),
        "someone-else".getBytes("UTF-8"))
      try {
        val rep4 = M.runAll(spark, Seq(dir), maxShards = 2, maxDeltas = 1)
        assert(rep4.skipped.exists { case (p, why) =>
          p == s"$dir/stores/quads" && why.contains("busy")
        }, s"busy delta store not reported skipped: ${rep4.skipped}")
        assert(rep4.searchIndexes.nonEmpty && rep4.plainTables.nonEmpty,
          "busy store must not abort the rest of the sweep")
      } finally java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$dir/stores/quads/_writer"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    }
  }
}
