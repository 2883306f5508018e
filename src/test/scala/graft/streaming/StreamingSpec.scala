package graft.streaming

import graft.SparkT
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{round, sum, when}
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

// Top-level: Spark encoders cannot instantiate suite-inner case classes.
case class Ev(user_id: Long, ts: Timestamp, event_type: String, value: Double)
case class EvId(event_id: Long, user_id: Long, ts: Timestamp, value: Double)
case class Doc(doc_id: Long, text: String)
case class VecRow(vec_id: Long, embedding: Array[Float])
case class SrcDoc(doc_id: Long, source: String, text: String)

/** Streaming operators driven through real micro-batches (MemoryStream →
  * memory sink): watermark closes windows, sessions split on the gap,
  * custom state survives across batches. */
class StreamingSpec extends AnyFunSuite {

  import SparkT.spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = SparkT.spark.sqlContext

  private def ts(sec: Long) = new Timestamp(sec * 1000)

  test("windowed counts with watermark emit closed windows in append mode") {
    val in = MemoryStream[Ev]
    val q = EventStreams.windowedCounts(in.toDF(), "10 seconds", "5 seconds")
      .writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Ev(1, ts(1), "a", 1.0), Ev(1, ts(3), "a", 2.0), Ev(2, ts(12), "b", 5.0))
      q.processAllAvailable()
      // watermark is now 12-5=7s: window [0,10) not yet closed
      assert(SparkT.spark.table("wc").count() === 0)
      in.addData(Ev(1, ts(30), "a", 1.0)) // watermark → 25s: [0,10) and [10,20) close
      q.processAllAvailable()
      val rows = SparkT.spark.table("wc")
        .select("event_type", "n", "sum_value")
        .as[(String, Long, Double)].collect().toSet
      assert(rows === Set(("a", 2L, 3.0), ("b", 1L, 5.0)))
    } finally q.stop()
  }

  test("session windows split on the gap") {
    val in = MemoryStream[Ev]
    val q = EventStreams.sessionWindows(in.toDF(), "5 seconds", "2 seconds")
      .writeStream.format("memory").queryName("sw")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: two bursts separated by > gap → two sessions
      in.addData(Ev(1, ts(1), "a", 1.0), Ev(1, ts(3), "a", 1.0),
        Ev(1, ts(20), "a", 1.0))
      q.processAllAvailable()
      in.addData(Ev(1, ts(60), "a", 0.0)) // advance watermark, close both
      q.processAllAvailable()
      val sessions = SparkT.spark.table("sw")
        .select("user_id", "n").as[(Long, Long)].collect()
        .filter(_._2 > 0).sortBy(_._2)
      assert(sessions.count(_._1 == 1L) >= 2)
      assert(sessions.map(_._2).toSet.contains(2L)) // the 2-event burst
    } finally q.stop()
  }

  test("mapGroupsWithState carries per-user state across micro-batches") {
    val in = MemoryStream[EventStreams.Event]
    val q = EventStreams.runningUserAgg(in.toDS())
      .writeStream.format("memory").queryName("ra")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(EventStreams.Event(1, ts(1), 2.0), EventStreams.Event(1, ts(2), 3.0))
      q.processAllAvailable()
      in.addData(EventStreams.Event(1, ts(3), 5.0)) // second batch: state must persist
      q.processAllAvailable()
      val last = SparkT.spark.table("ra")
        .groupBy("user_id").agg(org.apache.spark.sql.functions.max("n").as("n"),
          org.apache.spark.sql.functions.max("sum").as("sum"))
        .as[(Long, Long, Double)].head()
      assert(last === ((1L, 3L, 10.0)))
    } finally q.stop()
  }

  test("the same windowed transform runs in batch mode (backfill = replay)") {
    val batch = Seq(Ev(1, ts(1), "a", 1.0), Ev(1, ts(3), "a", 2.0),
      Ev(2, ts(12), "b", 5.0)).toDF()
    val out = EventStreams.windowedCounts(batch, "10 seconds", "5 seconds")
      .select("event_type", "n", "sum_value")
      .as[(String, Long, Double)].collect().toSet
    assert(out === Set(("a", 2L, 3.0), ("b", 1L, 5.0)))
  }

  test("windowed counts accept an epoch-nanos long ts in a REAL stream") {
    // EventTime normalization must run before the watermark is attached —
    // an integral event-time column through genuine micro-batches, not
    // just the batch-replay branch (VERDICT r11 §next-round 2).
    val in = MemoryStream[(Long, Long, String, Double)]
    val df = in.toDF().toDF("user_id", "ts", "event_type", "value")
    val q = EventStreams.windowedCounts(df, "10 seconds", "5 seconds")
      .writeStream.format("memory").queryName("wcl")
      .outputMode(OutputMode.Append).start()
    try {
      def ns(sec: Long) = sec * 1000000000L
      in.addData((1L, ns(1), "a", 1.0), (1L, ns(3), "a", 2.0),
        (2L, ns(12), "b", 5.0))
      q.processAllAvailable()
      assert(SparkT.spark.table("wcl").count() === 0) // [0,10) still open
      in.addData((1L, ns(30), "a", 1.0)) // watermark → 25s closes both
      q.processAllAvailable()
      val rows = SparkT.spark.table("wcl")
        .select("event_type", "n", "sum_value")
        .as[(String, Long, Double)].collect().toSet
      assert(rows === Set(("a", 2L, 3.0), ("b", 1L, 5.0)))
    } finally q.stop()
  }

  test("streaming dedup drops re-deliveries across micro-batches") {
    val in = MemoryStream[EvId]
    val q = EventStreams.dedupWithinWatermark(in.toDF(), "10 seconds",
        Seq("event_id"))
      .writeStream.format("memory").queryName("dd")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(EvId(100, 1, ts(1), 1.0), EvId(101, 1, ts(2), 2.0))
      q.processAllAvailable()
      // same event_id re-delivered in a later micro-batch, inside horizon
      in.addData(EvId(100, 1, ts(1), 1.0), EvId(102, 2, ts(3), 3.0))
      q.processAllAvailable()
      val ids = SparkT.spark.table("dd").select("event_id")
        .as[Long].collect().sorted.toSeq
      assert(ids === Seq(100L, 101L, 102L))
    } finally q.stop()
  }

  test("streaming dedup re-emits a key re-delivered BEYOND the watermark horizon") {
    // Pins the semantic boundary with the batch-replay branch (which dedups
    // full-history): the stream's state for a key is freed once the
    // watermark passes, so a far-late re-delivery is emitted again.
    val in = MemoryStream[EvId]
    val q = EventStreams.dedupWithinWatermark(in.toDF(), "10 seconds",
        Seq("event_id"))
      .writeStream.format("memory").queryName("ddfar")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(EvId(100, 1, ts(1), 1.0))
      q.processAllAvailable()
      in.addData(EvId(999, 9, ts(60), 0.0)) // watermark → 50s; key 100 expired
      q.processAllAvailable()
      in.addData(EvId(100, 1, ts(55), 1.0)) // same key, far beyond horizon
      q.processAllAvailable()
      val ids = SparkT.spark.table("ddfar").select("event_id")
        .as[Long].collect().sorted.toSeq
      assert(ids === Seq(100L, 100L, 999L))
    } finally q.stop()
  }

  test("streaming ingest maintains a secondary index via per-batch segment appends (I9)") {
    // The RT-index flow: every micro-batch appends the fact rows AND their
    // postings as an index segment (foreachBatch = the engine's ingest
    // hook), then replays any maintenance-dropped registration — so the
    // AUTOMATIC routing stays live across batches, the reference daemon's
    // RT-insert behavior. Lookups are correct after each batch without
    // compaction.
    val root = java.nio.file.Files.createTempDirectory("graft-stream-idx")
    val fact = root.resolve("fact").toString
    val dir = root.resolve("idx").toString
    val in = MemoryStream[EvId]
    val q = in.toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          batch.write.mode("append").parquet(fact)
          graft.index.SecondaryIndex.appendSegment(batch, "user_id",
            "event_id", dir)
          graft.plans.IndexRouting.reregisterDropped(batch.sparkSession)
        }
      }
      .start()
    def semiJoins(df: org.apache.spark.sql.DataFrame): Int = {
      import org.apache.spark.sql.catalyst.plans.logical.Join
      df.queryExecution.optimizedPlan.collect {
        case j: Join if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
      }.size
    }
    try {
      in.addData(EvId(1, 10, ts(1), 1.0), EvId(2, 20, ts(2), 1.0))
      q.processAllAvailable()
      // register once after the first batch; later batches keep it alive
      graft.plans.IndexRouting.register(SparkT.spark, fact, dir,
        "user_id", "event_id")
      in.addData(EvId(3, 10, ts(3), 1.0), EvId(4, 30, ts(4), 1.0))
      q.processAllAvailable()
      val got = graft.index.SecondaryIndex.lookupKeys(SparkT.spark, dir,
        Seq(10L)).as[Long].collect().toSet
      assert(got === Set(1L, 3L)) // user 10's events across both batches
      assert(graft.index.SecondaryIndex.calcCount(SparkT.spark, dir,
        Seq(10L, 30L)) === 3L)
      // the batch-2 append dropped the entry; the in-stream replay
      // re-registered it — a plain filter over the fact table ROUTES and
      // sees both batches (threshold widened: at 4 rows the 1/ndv
      // estimate is 1/3, above the production gate)
      SparkT.spark.conf.set("spark.graft.index.routeThreshold", "0.5")
      try {
        val routed = SparkT.spark.read.parquet(fact)
          .filter(org.apache.spark.sql.functions.col("user_id") === 10L)
          .select("event_id")
        assert(semiJoins(routed) == 1,
          routed.queryExecution.optimizedPlan.toString)
        assert(routed.as[Long].collect().toSet === Set(1L, 3L))
      } finally SparkT.spark.conf.unset("spark.graft.index.routeThreshold")
      // compaction restores the canonical layout under the checker
      graft.index.SecondaryIndex.compact(SparkT.spark, dir)
      assert(graft.index.IndexCheck.check(SparkT.spark, dir).ok)
      assert(graft.index.SecondaryIndex.lookupKeys(SparkT.spark, dir,
        Seq(10L)).as[Long].collect().toSet === Set(1L, 3L))
    } finally {
      q.stop()
      graft.plans.IndexRouting.unregister(SparkT.spark, fact)
    }
  }

  test("streaming funnel state machine matches the batch operator under in-order delivery") {
    import graft.streaming.EventStreams.TypedEvent
    def ev(u: Long, us: Long, et: String) =
      TypedEvent(u, new java.sql.Timestamp(us / 1000), et)
    // users 1..4 with interleaved chains; all event times are whole millis
    // so Timestamp carries them exactly
    val batch1 = Seq(ev(1, 10000, "a"), ev(2, 11000, "a"), ev(1, 20000, "b"),
      ev(3, 12000, "b"))                       // u3 starts mid-funnel: no chain
    val batch2 = Seq(ev(2, 21000, "b"), ev(1, 30000, "c"),  // u1 completes
      ev(4, 13000, "a"), ev(3, 22000, "a"))
    val batch3 = Seq(ev(2, 31000, "c"),                      // u2 completes
      ev(3, 32000, "b"), ev(4, 90000000000L, "b"))           // u4's b too late
    val in = MemoryStream[TypedEvent]
    val q = graft.streaming.EventStreams.funnelState(in.toDS(),
        Seq("a", "b", "c"), withinMicros = Some(50000L))
      .writeStream.format("memory").queryName("funnelst")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(batch1: _*); q.processAllAvailable()
      in.addData(batch2: _*); q.processAllAvailable()
      in.addData(batch3: _*); q.processAllAvailable()
      val got = SparkT.spark.table("funnelst")
        .as[graft.streaming.EventStreams.FunnelHit]
        .collect().map(h => (h.user_id, h.step_us)).toSet
      assert(got === Set((1L, Seq(10000L, 20000L, 30000L)),
        (2L, Seq(11000L, 21000L, 31000L))))
      // parity: the batch funnel over the union of all batches
      val all = (batch1 ++ batch2 ++ batch3)
        .map(e => (e.user_id, e.ts, e.event_type))
        .toDF("user_id", "ts", "event_type")
      val viaBatch = graft.relational.Funnel.earliestChain(all, "user_id",
          "ts", "event_type", Seq("a", "b", "c"), Some(50000L))
        .as[(Long, Long, Long, Long)].collect()
        .map { case (u, t1, t2, t3) => (u, Seq(t1, t2, t3)) }.toSet
      assert(viaBatch === got)
    } finally q.stop()
  }

  test("buffered streaming funnel matches the batch operator under SHUFFLED delivery") {
    import graft.streaming.EventStreams.TypedEvent
    def ev(u: Long, us: Long, et: String) =
      TypedEvent(u, new java.sql.Timestamp(us / 1000), et)
    // logical event set: 5 users, chains with decoys and out-of-order
    // traps (u1's late 'a' that must still anchor the chain, u2's decoy
    // later 'b', u3 incomplete, u5 window-fail)
    val logical = Seq(
      ev(1, 10000, "a"), ev(1, 20000, "b"), ev(1, 30000, "c"),
      ev(2, 11000, "a"), ev(2, 21000, "b"), ev(2, 25000, "b"),
      ev(2, 31000, "c"),
      ev(3, 12000, "b"), ev(3, 22000, "a"), ev(3, 23000, "b"),
      ev(4, 13000, "a"), ev(4, 14000, "b"), ev(4, 15000, "c"),
      ev(5, 16000, "a"), ev(5, 26000, "b"), ev(5, 46000, "c"))
    // deliver SHUFFLED across micro-batches — late events arrive after
    // later ones; all event times sit inside one watermark SLA, so
    // nothing is dropped, only reordered
    val shuffled = new scala.util.Random(17).shuffle(logical)
    val batches = shuffled.grouped(6).toSeq
    val in = MemoryStream[TypedEvent]
    val q = graft.streaming.EventStreams.funnelStateBuffered(in.toDS(),
        Seq("a", "b", "c"), withinMicros = Some(25000L),
        delay = "1 second")
      .writeStream.format("memory").queryName("funnelbuf")
      .outputMode(OutputMode.Append).start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      // advance the watermark past every chain, then one more trigger so
      // event-time timeouts fire
      in.addData(ev(999, 200000000L, "a")); q.processAllAvailable()
      in.addData(ev(999, 200100000L, "a")); q.processAllAvailable()
      val got = SparkT.spark.table("funnelbuf")
        .as[graft.streaming.EventStreams.FunnelHit]
        .collect().map(h => (h.user_id, h.step_us)).toSet
      val all = logical.map(e => (e.user_id, e.ts, e.event_type))
        .toDF("user_id", "ts", "event_type")
      val viaBatch = graft.relational.Funnel.earliestChain(all, "user_id",
          "ts", "event_type", Seq("a", "b", "c"), Some(25000L))
        .as[(Long, Long, Long, Long)].collect()
        .map { case (u, t1, t2, t3) => (u, Seq(t1, t2, t3)) }.toSet
      assert(got === viaBatch)
      // the traps actually exercised: u1/u2/u4 completed, u3/u5 did not
      assert(got.map(_._1) === Set(1L, 2L, 4L))
      assert(got.contains((2L, Seq(11000L, 21000L, 31000L)))) // decoy skipped
    } finally q.stop()
  }

  test("buffered funnel: multi-epoch re-entry within one batch survives the state trim") {
    import graft.streaming.EventStreams.TypedEvent
    def ev(u: Long, us: Long, et: String) =
      TypedEvent(u, new java.sql.Timestamp(us / 1000), et)
    // one user completes TWICE, plus step-a noise beyond maxPerStep, all
    // in a single micro-batch — the trim must not eat the second epoch's
    // events (it runs AFTER this batch's epochs consume)
    val noise = (0 until 40).map(i => ev(7, 1000 + i * 100, "a"))
    val logical = noise ++ Seq(
      ev(7, 10000, "b"), // epoch 1: a@1000 .. b@10000
      ev(7, 11000, "a"), ev(7, 12000, "b")) // epoch 2 (later than all noise)
    val in = MemoryStream[TypedEvent]
    val q = graft.streaming.EventStreams.funnelStateBuffered(in.toDS(),
        Seq("a", "b"), delay = "1 second", maxPerStep = 8)
      .writeStream.format("memory").queryName("funnelbuf2")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(new scala.util.Random(5).shuffle(logical): _*)
      q.processAllAvailable()
      in.addData(ev(999, 100000000L, "a")); q.processAllAvailable()
      in.addData(ev(999, 100100000L, "a")); q.processAllAvailable()
      val got = SparkT.spark.table("funnelbuf2")
        .as[graft.streaming.EventStreams.FunnelHit]
        .collect().map(h => (h.user_id, h.step_us)).toSet
      assert(got === Set((7L, Seq(1000L, 10000L)), (7L, Seq(11000L, 12000L))))
    } finally q.stop()
  }

  test("buffered funnel: stalled partial state is TTL-evicted; re-entry works") {
    import graft.streaming.EventStreams.TypedEvent
    def ev(u: Long, us: Long, et: String) =
      TypedEvent(u, new java.sql.Timestamp(us / 1000), et)
    val in = MemoryStream[TypedEvent]
    // 50 ms event-time TTL: user 8's lone 'a' must be evicted once the
    // watermark is 50 ms past it, so a 'b' arriving much later finds no
    // chain — but a fresh a→b epoch after eviction still completes.
    val q = graft.streaming.EventStreams.funnelStateBuffered(in.toDS(),
        Seq("a", "b"), delay = "1 second", idleTtlMicros = 50000L)
      .writeStream.format("memory").queryName("funnelttl")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(8, 1000, "a")); q.processAllAvailable()
      // advance the watermark FAR past 1000us + 50ms → TTL timeout fires
      in.addData(ev(999, 10000000000L, "x")); q.processAllAvailable()
      in.addData(ev(999, 10000100000L, "x")); q.processAllAvailable()
      // a 'b' that would have completed the chain had state survived
      in.addData(ev(8, 10000200000L, "b")); q.processAllAvailable()
      // fresh epoch after eviction
      in.addData(ev(8, 10000500000L, "a"), ev(8, 10000600000L, "b"))
      q.processAllAvailable()
      in.addData(ev(999, 20000000000L, "x")); q.processAllAvailable()
      in.addData(ev(999, 20000100000L, "x")); q.processAllAvailable()
      val got = SparkT.spark.table("funnelttl")
        .as[graft.streaming.EventStreams.FunnelHit]
        .collect().map(h => (h.user_id, h.step_us)).toSet
      assert(got === Set((8L, Seq(10000500000L, 10000600000L))),
        s"evicted 'a' must not anchor a chain; got $got")
    } finally q.stop()
  }

  test("streaming decontamination: each micro-batch probes the static eval set") {
    // The crawl-decontamination flow: incoming documents are checked
    // against the (static, broadcast) benchmark set per micro-batch via
    // foreachBatch — flagging is per-document, so no cross-batch state is
    // needed and the probe stays the batch operator (one plan, audited
    // broadcast shape), exactly like the signature-store probe loop.
    val eval = Seq((900L, "the quick brown fox jumps high"))
      .toDF("eid", "etext")
    val in = MemoryStream[Doc]
    val flagged = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    val q = in.toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val hits = graft.pipeline.Decontaminate.overlaps(
              batch, eval, "doc_id", "text", "eid", "etext",
              shingleN = 3, minOverlap = 2)
            .select($"corpus_id", $"eval_id", $"overlap")
            .as[(Long, Long, Long)].collect()
          flagged.synchronized { flagged ++= hits }
        }
        ()
      }
      .start()
    try {
      in.addData(Doc(1, "prefix the quick brown fox jumps high suffix"),
        Doc(2, "nothing shared here at all"))
      q.processAllAvailable()
      in.addData(Doc(3, "the quick brown words diverge now"))
      q.processAllAvailable()
      // doc 1 contains all 4 eval trigrams; doc 3 shares only 1 (< minOverlap)
      assert(flagged.toSet === Set((1L, 900L, 4L)))
    } finally q.stop()
  }

  test("embedding stage runs inside a stream (stateless mapPartitions per micro-batch)") {
    val in = MemoryStream[Doc]
    val p = graft.embed.Embeddings.HashingProvider(8, normalize = false)
    val q = graft.embed.Embeddings.embedStage(in.toDF(), "text", "emb",
        () => p, batchSize = 2)
      .writeStream.format("memory").queryName("embst")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Doc(1, "alpha beta"), Doc(2, "gamma"))
      q.processAllAvailable()
      in.addData(Doc(3, "alpha alpha"))
      q.processAllAvailable()
      val got = SparkT.spark.table("embst")
        .select($"doc_id", $"emb").as[(Long, Seq[Float])]
        .collect().toMap
      val want = Map(
        1L -> p.embedBatch(Seq("alpha beta")).head.toSeq,
        2L -> p.embedBatch(Seq("gamma")).head.toSeq,
        3L -> p.embedBatch(Seq("alpha alpha")).head.toSeq)
      assert(got === want)
    } finally q.stop()
  }

  test("streaming ANN ingest: per-batch graph segment appends keep routed search exact") {
    // The vector side of the RT-ingest flow (I9 × K1): a clustered graph
    // index built once, then maintained from a stream — each micro-batch
    // lands as a segment under the existing centroids (no rebuild), and
    // routed search over the live index stays EXACT at full ef across
    // batches. Mirrors the secondary-index streaming test one block up;
    // together they pin the whole continuous-ingest story.
    import graft.vector.{Hnsw, Knn}
    val root = java.nio.file.Files.createTempDirectory("graft-stream-ann")
    val d = root.resolve("g").toString
    val emb = graft.engine.Graft.table(SparkT.spark,
      "/root/testdata/sf0.001", "embeddings").select($"vec_id", $"embedding")
    Hnsw.buildIndexClustered(emb.filter($"vec_id" < 400), "embedding",
      "vec_id", d, Hnsw.Params(m = 8, efC = 64, partitions = 4))
    val streamed = emb.filter($"vec_id" >= 400)
      .as[(Long, Array[Float])].collect().map(VecRow.tupled.apply)
    val in = MemoryStream[VecRow]
    val q = in.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          Hnsw.appendSegment(batch, "embedding", "vec_id", d)
      }
      .start()
    try {
      def exactTop(upTo: Long, query: Array[Float]): Seq[(Long, Double)] =
        Knn.knn(emb.filter($"vec_id" < upTo), "embedding", "vec_id",
          query, 10).select("vec_id", "dist").as[(Long, Double)]
          .collect().toSeq
      // a query vector that IS a streamed row: its own id must surface
      // as the top hit once its batch lands
      val qv = streamed.find(_.vec_id == 450L).get.embedding
      in.addData(streamed.filter(_.vec_id < 450L).toIndexedSeq: _*)
      q.processAllAvailable()
      val (afterB1, _) = Hnsw.searchRouted(SparkT.spark, d, "vec_id",
        qv, 10, ef = 1 << 20)
      assert(afterB1.as[(Long, Double)].collect().toSeq === exactTop(450L, qv))
      in.addData(streamed.filter(_.vec_id >= 450L).toIndexedSeq: _*)
      q.processAllAvailable()
      val (afterB2, _) = Hnsw.searchRouted(SparkT.spark, d, "vec_id",
        qv, 10, ef = 1 << 20)
      val got = afterB2.as[(Long, Double)].collect().toSeq
      assert(got === exactTop(500L, qv))
      assert(got.head._1 === 450L && got.head._2 === 0.0) // the streamed row itself
    } finally q.stop()
  }

  test("streaming QUANTIZED ANN ingest: code-space segment appends stay exact across batches (r15)") {
    // The quantized-graph leg of the RT-ingest flow: each micro-batch is
    // encoded with the FROZEN int8 model, lands as new code-space
    // sub-graphs, and records its observed reconstruction error in the
    // _qerr sidecar — searchQuantized stays exact at full ef because the
    // prune slack widens with the recorded drift.
    import graft.vector.{Hnsw, Knn}
    val root = java.nio.file.Files.createTempDirectory("graft-stream-qann")
    val d = root.resolve("g").toString
    val emb = graft.engine.Graft.table(SparkT.spark,
      "/root/testdata/sf0.001", "embeddings").select($"vec_id", $"embedding")
    Hnsw.buildIndexClusteredQuantized(emb.filter($"vec_id" < 400),
      "embedding", "vec_id", d, Hnsw.Params(m = 8, efC = 64, partitions = 4))
    val streamed = emb.filter($"vec_id" >= 400)
      .as[(Long, Array[Float])].collect().map(VecRow.tupled.apply)
    val in = MemoryStream[VecRow]
    val q = in.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          Hnsw.appendSegment(batch, "embedding", "vec_id", d)
      }
      .start()
    try {
      def exactTop(upTo: Long, query: Array[Float]): Seq[(Long, Double)] =
        Knn.knn(emb.filter($"vec_id" < upTo), "embedding", "vec_id",
          query, 10).select("vec_id", "dist").as[(Long, Double)]
          .collect().toSeq
      val qv = streamed.find(_.vec_id == 450L).get.embedding
      in.addData(streamed.filter(_.vec_id < 450L).toIndexedSeq: _*)
      q.processAllAvailable()
      val (afterB1, _) = Hnsw.searchQuantized(SparkT.spark, d,
        emb.filter($"vec_id" < 450L), "embedding", "vec_id",
        qv, 10, ef = 1 << 20)
      assert(afterB1.select("vec_id", "dist").as[(Long, Double)]
        .collect().toSeq === exactTop(450L, qv))
      in.addData(streamed.filter(_.vec_id >= 450L).toIndexedSeq: _*)
      q.processAllAvailable()
      val (afterB2, _) = Hnsw.searchQuantized(SparkT.spark, d,
        emb, "embedding", "vec_id", qv, 10, ef = 1 << 20)
      val got = afterB2.select("vec_id", "dist").as[(Long, Double)]
        .collect().toSeq
      assert(got === exactTop(500L, qv))
      assert(got.head._1 === 450L && got.head._2 === 0.0)
    } finally q.stop()
  }

  test("streaming IVF ingest: per-batch appendToIndex keeps probe-pruned search exact (r18)") {
    // The IVF leg of the RT-ingest flow (VERDICT r17 #4 — the reference's
    // RT flow covers every index type uniformly, knn/knn.h:135-144): each
    // micro-batch is assigned under the FROZEN coarse model and appended
    // as clustered files; search spans all segments immediately, and at
    // nprobe = nlist it stays EXACT across batches — batch-parity with
    // the fresh-corpus fullscan.
    import graft.vector.{Ivf, Knn}
    val root = java.nio.file.Files.createTempDirectory("graft-stream-ivf")
    val d = root.resolve("i").toString
    val emb = graft.engine.Graft.table(SparkT.spark,
      "/root/testdata/sf0.001", "embeddings").select($"vec_id", $"embedding")
    val build = emb.filter($"vec_id" < 400)
    val m = Ivf.train(build, "embedding", nlist = 8)
    Ivf.buildIndex(build, "embedding", m, d)
    val streamed = emb.filter($"vec_id" >= 400)
      .as[(Long, Array[Float])].collect().map(VecRow.tupled.apply)
    val in = MemoryStream[VecRow]
    val q = in.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          Ivf.appendToIndex(batch, "embedding", m, d)
      }
      .start()
    try {
      def exactTop(upTo: Long, query: Array[Float]): Seq[(Long, Double)] =
        Knn.knn(emb.filter($"vec_id" < upTo), "embedding", "vec_id",
          query, 10).select("vec_id", "dist").as[(Long, Double)]
          .collect().toSeq
      def searched(query: Array[Float]): Seq[(Long, Double)] =
        Ivf.search(SparkT.spark, d, m, "vec_id", "embedding", query, 10,
            nprobe = m.nlist)
          .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      val qv = streamed.find(_.vec_id == 450L).get.embedding
      in.addData(streamed.filter(_.vec_id < 450L).toIndexedSeq: _*)
      q.processAllAvailable()
      assert(searched(qv) === exactTop(450L, qv))
      in.addData(streamed.filter(_.vec_id >= 450L).toIndexedSeq: _*)
      q.processAllAvailable()
      val got = searched(qv)
      assert(got === exactTop(500L, qv))
      assert(got.head._1 === 450L && got.head._2 === 0.0)
    } finally q.stop()
  }

  test("streaming IVF-ADC ingest: per-batch appendToIndexPq keeps screened search exact (r18)") {
    // The composite IVF-ADC leg: micro-batches are assigned AND
    // residual-encoded with the frozen (coarse model, codebooks) pair —
    // neither retrains mid-stream, the RT contract — and the metric
    // marker checks on every append. The refine margin covers the whole
    // fixture, so searchPq stays exact mid-segment by construction.
    import graft.vector.{Ivf, Knn}
    val root = java.nio.file.Files.createTempDirectory("graft-stream-adc")
    val d = root.resolve("i").toString
    val emb = graft.engine.Graft.table(SparkT.spark,
      "/root/testdata/sf0.001", "embeddings").select($"vec_id", $"embedding")
    val build = emb.filter($"vec_id" < 400)
    val m = Ivf.train(build, "embedding", nlist = 8)
    val pq = Ivf.buildIndexPq(build, "embedding", "vec_id", m, d)
    val streamed = emb.filter($"vec_id" >= 400)
      .as[(Long, Array[Float])].collect().map(VecRow.tupled.apply)
    val in = MemoryStream[VecRow]
    val q = in.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          Ivf.appendToIndexPq(batch, "embedding", m, pq, d)
      }
      .start()
    try {
      def exactTop(upTo: Long, query: Array[Float]): Seq[(Long, Double)] =
        Knn.knn(emb.filter($"vec_id" < upTo), "embedding", "vec_id",
          query, 10).select("vec_id", "dist").as[(Long, Double)]
          .collect().toSeq
      def searched(query: Array[Float]): Seq[(Long, Double)] =
        Ivf.searchPq(SparkT.spark, d, m, pq, "vec_id", "embedding", query,
            10, nprobe = m.nlist, refine = 50)
          .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      val qv = streamed.find(_.vec_id == 450L).get.embedding
      in.addData(streamed.filter(_.vec_id < 450L).toIndexedSeq: _*)
      q.processAllAvailable()
      assert(searched(qv) === exactTop(450L, qv))
      in.addData(streamed.filter(_.vec_id >= 450L).toIndexedSeq: _*)
      q.processAllAvailable()
      val got = searched(qv)
      assert(got === exactTop(500L, qv))
      assert(got.head._1 === 450L && got.head._2 === 0.0)
    } finally q.stop()
  }

  test("streaming FLAT-QUANTIZED ingest: per-batch appendSegment keeps the rescored search exact (r19)") {
    // The flat int8 leg of the RT-ingest flow (VERDICT r18 #7 — the batch
    // q_knn_quant_seg gate's micro-batch twin): each batch encodes with
    // the FROZEN model (appended vectors may clamp outside the trained
    // box — the refine margin covers the fixture's drift, the same
    // contract the batch gate carries) and appends to the quantized
    // table; searchRescore spans all segments immediately.
    import graft.vector.{Knn, Quantize}
    val root = java.nio.file.Files.createTempDirectory("graft-stream-quant")
    val d = root.resolve("q").toString
    val emb = graft.engine.Graft.table(SparkT.spark,
      "/root/testdata/sf0.001", "embeddings").select($"vec_id", $"embedding")
    val build = emb.filter($"vec_id" < 400)
    val m = Quantize.train(build, "embedding")
    graft.tables.Writer.write(
      Quantize.encodeTable(build, "embedding", "qvec", m), d,
      sortBy = Seq("vec_id"))
    val streamed = emb.filter($"vec_id" >= 400)
      .as[(Long, Array[Float])].collect().map(VecRow.tupled.apply)
    val in = MemoryStream[VecRow]
    val q = in.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          Quantize.appendSegment(batch, "embedding", "qvec", d, m)
      }
      .start()
    try {
      def exactTop(upTo: Long, query: Array[Float]): Seq[(Long, Double)] =
        Knn.knn(emb.filter($"vec_id" < upTo), "embedding", "vec_id",
          query, 10).select("vec_id", "dist").as[(Long, Double)]
          .collect().toSeq
      def searched(query: Array[Float]): Seq[(Long, Double)] =
        Quantize.searchRescore(SparkT.spark.read.parquet(d), "embedding",
            "qvec", "vec_id", m, query, 10, refine = 16)
          .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      val qv = streamed.find(_.vec_id == 450L).get.embedding
      in.addData(streamed.filter(_.vec_id < 450L).toIndexedSeq: _*)
      q.processAllAvailable()
      assert(searched(qv) === exactTop(450L, qv))
      in.addData(streamed.filter(_.vec_id >= 450L).toIndexedSeq: _*)
      q.processAllAvailable()
      val got = searched(qv)
      assert(got === exactTop(500L, qv))
      assert(got.head._1 === 450L && got.head._2 === 0.0)
    } finally q.stop()
  }

  test("streaming incremental dedup: each batch probes the signature store, then joins it") {
    // The crawl-ingest loop end-to-end: per micro-batch, (1) dedup the
    // batch against everything ingested so far via the signature store,
    // (2) append the batch's fact rows + signatures. The store is the only
    // cross-batch state — no growing in-memory corpus anywhere.
    import graft.pipeline.Dedup
    val root = java.nio.file.Files.createTempDirectory("graft-stream-dedup2")
    val fact = root.resolve("fact").toString
    val store = root.resolve("sigs").toString
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 6
    val other = "completely different words about databases and storage engines " * 6
    val dupsSeen = scala.collection.mutable.Set[(Long, Long)]()
    val in = MemoryStream[Doc]
    val q = in.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val b = batch.persist()
          if (new java.io.File(fact, "_SUCCESS").isFile ||
              new java.io.File(fact).isDirectory) {
            val corpus = b.sparkSession.read.option("basePath", fact)
              .parquet(fact)
            if (new java.io.File(store).isDirectory) {
              import b.sparkSession.implicits._
              dupsSeen ++= Dedup.nearDupsAgainstStore(corpus, b, store,
                  "doc_id", "text", threshold = 0.5)
                .select($"corpus_id", $"new_id").as[(Long, Long)].collect()
            }
          }
          b.write.mode("append").parquet(fact)
          if (new java.io.File(store).isDirectory)
            Dedup.appendSignatureStore(b, "doc_id", "text", store)
          else Dedup.writeSignatureStore(b, "doc_id", "text", store)
          b.unpersist()
        }
        ()
      }
      .start()
    try {
      in.addData(Doc(1, base), Doc(2, other))
      q.processAllAvailable()
      assert(dupsSeen.isEmpty) // first batch: nothing to dedup against
      in.addData(Doc(10, base.replace("lazy", "sleepy")), Doc(11, "unrelated " * 20))
      q.processAllAvailable()
      assert(dupsSeen.toSet === Set((1L, 10L)))
      // batch 3 dups BOTH an original and a batch-2 doc — cross-batch state
      // flows only through the store
      in.addData(Doc(20, base))
      q.processAllAvailable()
      assert(dupsSeen.toSet === Set((1L, 10L), (1L, 20L), (10L, 20L)))
    } finally q.stop()
  }

  test("streaming span-dedup ingest: batches score against the gram store, then fold in (r14 #6)") {
    // The crawl-ingest loop for cross-document SPAN dedup: per micro-batch,
    // (1) score the batch's boilerplate coverage against the corpus gram
    // store, (2) fold the batch's gram frequencies in (segment append).
    // The store is the only cross-batch state; batch-parity is pinned by
    // comparing the streaming-built store against writeGramStore over the
    // same corpus in one shot.
    import graft.pipeline.Dedup
    val root = java.nio.file.Files.createTempDirectory("graft-stream-spans")
    val store = root.resolve("grams").toString
    val n = 3
    val boiler = "all rights reserved contact us"
    val covSeen = scala.collection.mutable.Map[Long, (Long, Long)]()
    val in = MemoryStream[Doc]
    val q = in.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val b = batch.persist()
          if (new java.io.File(store).isDirectory) {
            import b.sparkSession.implicits._
            covSeen ++= Dedup.spanCoverageAgainstStore(b, store,
                "doc_id", "text", n, minDocs = 2)
              .select($"doc_id", $"total_tokens", $"covered_tokens")
              .as[(Long, Long, Long)].collect()
              .map { case (id, t, c) => id -> ((t, c)) }
            Dedup.appendGramStore(b, "doc_id", "text", store, n)
          } else Dedup.writeGramStore(b, "doc_id", "text", store, n)
          b.unpersist()
          ()
        }
      }
      .start()
    try {
      in.addData(Doc(1, s"alpha beta gamma $boiler"),
        Doc(2, s"delta epsilon zeta $boiler"))
      q.processAllAvailable()
      assert(covSeen.isEmpty) // first batch only seeds the store
      // batch 2: the boilerplate tail is corpus-frequent (2 carriers in the
      // store), the head is fresh → exactly the 5 boilerplate tokens cover
      in.addData(Doc(10, s"eta theta iota $boiler"))
      q.processAllAvailable()
      assert(covSeen(10L) === ((8L, 5L)))
      in.addData(Doc(20, "nothing shared here at all"))
      q.processAllAvailable()
      assert(covSeen(20L) === ((5L, 0L)))
    } finally q.stop()
    // batch-parity: the streaming-built store re-sums to writeGramStore
    // over the same corpus ingested in one shot
    val spark = SparkT.spark
    import spark.implicits._
    val batchStore = root.resolve("grams_batch").toString
    Dedup.writeGramStore(
      Seq((1L, s"alpha beta gamma $boiler"), (2L, s"delta epsilon zeta $boiler"),
        (10L, s"eta theta iota $boiler"), (20L, "nothing shared here at all"))
        .toDF("doc_id", "text"),
      "doc_id", "text", batchStore, n)
    def summed(p: String) = spark.read.parquet(p)
      .groupBy("gram_hash")
      .agg(org.apache.spark.sql.functions.sum("doc_freq").as("df"))
      .as[(Long, Long)].collect().toMap
    assert(summed(store) === summed(batchStore))
  }

  test("streaming perplexity scoring: each micro-batch scores against the persisted LM (r14 #6)") {
    import graft.pipeline.NgramLM
    val root = java.nio.file.Files.createTempDirectory("graft-stream-ppl")
    val lm = root.resolve("lm").toString
    val spark = SparkT.spark
    import spark.implicits._
    val corpus = Seq((1L, "a b c a b c a b c")).toDF("doc_id", "text")
    NgramLM.writeLM(corpus, "text", lm, 3)
    val scores = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
    val in = MemoryStream[Doc]
    val q = in.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          import batch.sparkSession.implicits._
          scores ++= NgramLM.scoreAgainstStore(batch, lm, "doc_id", "text", 3)
            .as[(Long, Long, Long, Long)].collect()
            .map { case (id, g, s, a) => id -> ((g, s, a)) }
          ()
        }
      }
      .start()
    try {
      in.addData(Doc(10, "a b c d"), Doc(11, "x y z w"))
      q.processAllAvailable()
      in.addData(Doc(12, "a b c a b c"))
      q.processAllAvailable()
    } finally q.stop()
    // batch-parity: identical to one batch scoreDocs over the same docs
    val want = NgramLM.scoreDocs(
      Seq((10L, "a b c d"), (11L, "x y z w"), (12L, "a b c a b c"))
        .toDF("doc_id", "text"),
      "doc_id", "text", spark.read.parquet(lm), 3)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (id, g, s, a) => id -> ((g, s, a)) }.toMap
    assert(scores.toMap === want)
  }

  test("streaming semantic screen: per-batch hierarchical 1-NN join against the static corpus index (r15 v7 loop)") {
    // The streaming counterpart of q_pipeline_v7: a crawl stream screens
    // each micro-batch against the STATIC corpus graph (built once, with
    // the layer hierarchy) via the hierarchical batch KNN join, keeping
    // only batch rows farther than θ from every corpus vector — the same
    // foreachBatch loop as the signature-store / decontamination / LM
    // crawl flows, pinned for batch parity against the one-shot join.
    import graft.vector.Hnsw
    val root = java.nio.file.Files.createTempDirectory("graft-stream-sem")
    val d = root.resolve("g").toString
    val emb = graft.engine.Graft.table(SparkT.spark,
      "/root/testdata/sf0.001", "embeddings").select($"vec_id", $"embedding")
    val corpus = emb.filter($"vec_id" % 10 =!= 7)
    val p = Hnsw.Params(m = 8, efC = 64, partitions = 4)
    Hnsw.buildIndexClustered(corpus, "embedding", "vec_id", d, p)
    Hnsw.buildHierarchy(SparkT.spark, d, p)
    // θ = the median nn distance of the whole batch (computed from the
    // one-shot join that also serves as the parity oracle below), so both
    // screen outcomes are guaranteed nonempty on any fixture
    val oneShot = Hnsw.knnJoinRouted(SparkT.spark, d,
      emb.filter($"vec_id" % 10 === 7), "vec_id", "embedding", "nn_id",
      k = 1, ef = 1 << 20, hier = true)
    val dists = oneShot.select($"dist").as[Double].collect().sorted
    val theta = dists(dists.length / 2)
    val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val streamed = emb.filter($"vec_id" % 10 === 7)
      .as[(Long, Array[Float])].collect().map(VecRow.tupled.apply)
    val in = MemoryStream[VecRow]
    val q = in.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val nn = Hnsw.knnJoinRouted(SparkT.spark, d, batch,
            "vec_id", "embedding", "nn_id", k = 1, ef = 1 << 20,
            hier = true)
          val ids = nn.filter($"dist" >= theta)
            .select($"vec_id").as[Long].collect()
          kept.synchronized { kept ++= ids; () }
        }
      }
      .start()
    try {
      val (b1, b2) = streamed.partition(_.vec_id < 250L)
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    // batch parity: the same screen in ONE join over all streamed rows
    val want = oneShot
      .filter($"dist" >= theta).select($"vec_id").as[Long].collect().toSet
    assert(kept.toSet === want)
    // the screen is live (some rows survive, and on this fixture some
    // near-corpus rows drop — both classes nonempty keeps θ meaningful)
    assert(kept.nonEmpty && kept.size < streamed.length,
      s"kept ${kept.size} of ${streamed.length}")
  }

  test("streaming v7 END-TO-END: per-batch embed -> hierarchical screen -> threshold -> accounting folds across batches (r16)") {
    // The FULL flagship-v7 chain as a crawl loop (r15 VERDICT #5; the
    // screen alone was pinned in r15): each micro-batch of raw documents
    // is EMBEDDED by the same K8 stage as the corpus, screened against
    // the static hierarchical corpus index via the batch KNN join,
    // threshold-dropped, and folded into the per-source accounting store
    // (all four measures are sums, so the fold is addition). Batch
    // parity: the accumulated accounting equals the one-shot v7
    // aggregate over the same rows.
    import graft.vector.Hnsw
    val root = java.nio.file.Files.createTempDirectory("graft-stream-v7")
    val d = root.resolve("g").toString
    val docs = graft.engine.Graft.table(SparkT.spark,
      "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"source", $"text")
    val prov = graft.embed.Embeddings.HashingProvider(16, normalize = false)
    def embed(df: org.apache.spark.sql.DataFrame) =
      graft.embed.Embeddings.embedStage(df, "text", "emb", () => prov)
    val p = Hnsw.Params(m = 8, efC = 64, partitions = 4)
    Hnsw.buildIndexClustered(embed(docs.filter($"doc_id" % 10 =!= 7)),
      "emb", "doc_id", d, p)
    Hnsw.buildHierarchy(SparkT.spark, d, p)
    // θ = median one-shot nn distance → both screen outcomes nonempty
    def screen(df: org.apache.spark.sql.DataFrame) = {
      val e = embed(df)
      val nn = Hnsw.knnJoinRouted(SparkT.spark, d,
        e.select($"doc_id", $"emb"), "doc_id", "emb", "nn_id",
        k = 1, ef = 1 << 20, hier = true)
      e.join(nn.select($"doc_id", $"dist"), Seq("doc_id"))
    }
    val crawl = docs.filter($"doc_id" % 10 === 7)
    val dists = screen(crawl).select($"dist").as[Double].collect().sorted
    val theta = dists(dists.length / 2)
    def account(scr: org.apache.spark.sql.DataFrame) = scr
      .withColumn("keep", $"dist" >= theta)
      .groupBy($"source")
      .agg(
        sum(when($"keep", 1L).otherwise(0L)).as("kept"),
        sum(when($"keep", 0L).otherwise(1L)).as("dropped"),
        sum(when($"keep",
            graft.pipeline.TextFunctions.tokenCount($"text").cast("long"))
          .otherwise(0L)).as("tokens_kept"),
        sum(round($"dist" * $"dist").cast("long")).as("nn_sq_sum"))
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // the crawl loop: per-batch embed + screen + accounting fold
    val acc = scala.collection.mutable.Map
      .empty[String, (Long, Long, Long, Long)]
    val in = MemoryStream[SrcDoc]
    val q = in.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val part = account(screen(batch))
          acc.synchronized {
            part.foreach { case (src, (k, dr, tk, sq)) =>
              val (k0, d0, t0, s0) = acc.getOrElse(src, (0L, 0L, 0L, 0L))
              acc(src) = (k0 + k, d0 + dr, t0 + tk, s0 + sq)
            }
          }
        }
      }
      .start()
    try {
      val rows = crawl.as[(Long, String, String)].collect()
        .map(t => SrcDoc(t._1, t._2, t._3))
      val (b1, b2) = rows.partition(_.doc_id < 250L)
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    // batch parity: the fold equals the one-shot v7 aggregate
    val want = account(screen(crawl))
    assert(acc.toMap === want)
    // the screen is live: kept and dropped both nonzero overall
    assert(want.values.map(_._1).sum > 0 && want.values.map(_._2).sum > 0)
  }

  test("stream-stream join pairs purchases with in-window views only") {
    val views = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = EventStreams.purchaseViewJoin(views.toDF(), purchases.toDF(),
        watermark = "5 seconds", lookback = "10 seconds")
      .writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append).start()
    try {
      views.addData(Ev(1, ts(1), "view", 0.0), Ev(1, ts(20), "view", 0.0),
        Ev(2, ts(2), "view", 0.0))
      purchases.addData(Ev(1, ts(8), "purchase", 9.0)) // matches ts(1) only
      q.processAllAvailable()
      val got = SparkT.spark.table("ssj")
        .select($"p_user", $"v_ts").as[(Long, Timestamp)].collect().toSet
      assert(got === Set((1L, ts(1)))) // user 2's view and ts(20) excluded
    } finally q.stop()
  }

  test("buffered funnel: a late earlier-step anchor still chains through " +
      "a burst of in-window later-step events (r18 review)") {
    import graft.streaming.EventStreams.TypedEvent
    def ev(u: Long, us: Long, et: String) =
      TypedEvent(u, new java.sql.Timestamp(us / 1000), et)
    // batch 1: 40 'b' events (>> maxPerStep=8), NO 'a' yet; batch 2: the
    // out-of-order 'a' anchor at t between the later 'b's. The old
    // uniform earliest-maxPerStep trim dropped b@29000.. and lost the
    // completion; in-window events must never be count-trimmed.
    val bs = (0 until 40).map(i => ev(9, 1000 + i * 1000, "b"))
    val in = MemoryStream[TypedEvent]
    val q = graft.streaming.EventStreams.funnelStateBuffered(in.toDS(),
        Seq("a", "b"), delay = "10 minutes", maxPerStep = 8)
      .writeStream.format("memory").queryName("funnellate")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    try {
      in.addData(new scala.util.Random(3).shuffle(bs): _*)
      q.processAllAvailable()
      in.addData(ev(9, 28500, "a")) // late anchor (ev floors to 28000us)
      q.processAllAvailable()
      // seal: advance the watermark far past every chain
      in.addData(ev(999, 100000000000L, "a")); q.processAllAvailable()
      in.addData(ev(999, 100100000000L, "a")); q.processAllAvailable()
      val got = SparkT.spark.table("funnellate")
        .as[graft.streaming.EventStreams.FunnelHit]
        .collect().map(h => (h.user_id, h.step_us)).toSet
      assert(got === Set((9L, Seq(28000L, 29000L))), got)
    } finally q.stop()
  }

  test("buffered funnel runs on a BATCH Dataset (backfill replay) and " +
      "matches the batch operator (r18 review)") {
    import graft.streaming.EventStreams.TypedEvent
    def ev(u: Long, us: Long, et: String) =
      TypedEvent(u, new java.sql.Timestamp(us / 1000), et)
    val logical = Seq(
      ev(1, 10000, "a"), ev(1, 20000, "b"),
      ev(2, 11000, "b"), ev(2, 21000, "a"), ev(2, 22000, "b"),
      ev(3, 12000, "a"))
    // no watermark node exists in batch execution -- the operator must
    // treat everything as delivered-and-sealed, not crash
    val got = graft.streaming.EventStreams.funnelStateBuffered(
        logical.toDS(), Seq("a", "b"), delay = "1 second")
      .collect().map(h => (h.user_id, h.step_us)).toSet
    val all = logical.map(e => (e.user_id, e.ts, e.event_type))
      .toDF("user_id", "ts", "event_type")
    val viaBatch = graft.relational.Funnel.earliestChain(all, "user_id",
        "ts", "event_type", Seq("a", "b"))
      .as[(Long, Long, Long)].collect()
      .map { case (u, t1, t2) => (u, Seq(t1, t2)) }.toSet
    assert(got === viaBatch)
    assert(got === Set((1L, Seq(10000L, 20000L)), (2L, Seq(21000L, 22000L))))
    // a raised TTL leaves user 3's partial chain UNEXPIRED in batch —
    // the timeout arming must not touch the (absent) watermark APIs
    // (r19 review: getCurrentWatermarkMs/setTimeoutTimestamp both throw
    // in batch execution, so a backfill with the scaladoc's own
    // effectively-unbounded TTL crashed)
    val gotTtl = graft.streaming.EventStreams.funnelStateBuffered(
        logical.toDS(), Seq("a", "b"), delay = "1 second",
        idleTtlMicros = Long.MaxValue / 2)
      .collect().map(h => (h.user_id, h.step_us)).toSet
    assert(gotTtl === got)
  }

  test("streaming guards mirror the batch operators' fail-fasts (r19 review)") {
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.TypedEvent
    val ds = Seq(TypedEvent(1L, new java.sql.Timestamp(1L), "a")).toDS()
    // non-positive completion window: silent zero conversions otherwise
    assertThrows[IllegalArgumentException] {
      EventStreams.funnelState(ds, Seq("a", "b"), withinMicros = Some(0L))
    }
    assertThrows[IllegalArgumentException] {
      EventStreams.funnelStateBuffered(ds, Seq("a", "b"),
        withinMicros = Some(-5L))
    }
    // empty key list: crashed streaming with a bare NoSuchElement,
    // silently whole-row-deduped batch
    assertThrows[IllegalArgumentException] {
      EventStreams.dedupWithinWatermark(
        Seq((1L, 1L)).toDF("user_id", "ts"), "1 second", Nil)
    }
    // batch arm normalizes event time exactly like the streaming arm: an
    // integral nanos ts column must come back as a TIMESTAMP, not leak
    // the raw long into the backfill sink (r19 review)
    val nanos = Seq((1L, 1000000000L), (1L, 1000000000L), (2L, 2000000000L))
      .toDF("user_id", "ts")
    val deduped = EventStreams.dedupWithinWatermark(nanos, "1 second",
      Seq("user_id", "ts"))
    assert(deduped.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType,
      deduped.schema.treeString)
    assert(deduped.count() === 2)
  }
}
