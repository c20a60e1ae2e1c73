package graft

import graft.streaming.MicroBatch
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.duration._
import scala.util.{Failure, Success}
import org.scalatest.funsuite.AnyFunSuite

/** Streaming half of the reference mapping: micro-batches arrive at
  * the processor, failures reach the finalizer without killing the
  * query, and stop() drains gracefully.
  */
class MicroBatchSpec extends AnyFunSuite {
  import SparkTestSession._

  test("rate stream: batches process, finalizer fires, graceful stop drains") {
    val batches = new AtomicInteger(0)
    val rows = new AtomicInteger(0)
    val q = MicroBatch.start(
      spark.readStream.format("rate").option("rowsPerSecond", "50").load(),
      processor = (_, df) => Success(df.selectExpr("value * 2 AS doubled")),
      finalizer = (p, e) => {
        assert(e.isEmpty)
        p.foreach(df => rows.addAndGet(df.count().toInt))
        batches.incrementAndGet()
      },
      pollInterval = 100.millis)
    val deadline = System.currentTimeMillis() + 15000
    while (batches.get() < 2 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    MicroBatch.stopGracefully(q)
    assert(batches.get() >= 2, "expected at least two micro-batches")
    assert(!q.isActive)
  }

  test("curation quality filter composes into the streaming bridge: per-batch == whole-batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sq = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val seen = new AtomicInteger(0)
    val kept = new AtomicInteger(0)
    val q = MicroBatch.start(
      in.toDF().toDF("doc_id", "text"),
      // the batch-mode curation op runs unchanged on each micro-batch
      // (foreachBatch hands the processor a plain batch DataFrame)
      processor = (_, df) => Success(ops.Curation.qualityFilter(df, "doc_id", "text")),
      finalizer = (p, e) => {
        assert(e.isEmpty, s"quality filter failed in-stream: $e")
        p.foreach { df =>
          // ONE action per batch, and `seen` updated last: the test
          // stops the query once seen reaches the corpus size, so any
          // work after the seen update would race the shutdown
          val agg = df.agg(
            org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
            org.apache.spark.sql.functions.sum(col("keep"))).head()
          kept.addAndGet(agg.getLong(1).toInt)
          seen.addAndGet(agg.getLong(0).toInt)
        }
      },
      pollInterval = 100.millis)
    in.addData(docs.take(docs.size / 2))
    in.addData(docs.drop(docs.size / 2))
    val deadline = System.currentTimeMillis() + 30000
    while (seen.get() < docs.size && System.currentTimeMillis() < deadline) Thread.sleep(50)
    MicroBatch.stopGracefully(q)
    assert(seen.get() == docs.size, s"streamed ${seen.get()} of ${docs.size} docs")
    // row-local op ⇒ splitting the corpus across micro-batches cannot
    // change any verdict: streamed keep-count equals the batch run's
    val batchKept = ops.Curation.qualityFilter(spark, sfDir)
      .filter(col("keep") === 1).count()
    assert(kept.get() == batchKept)
  }

  test("latest-by-key argmax merges across micro-batches to the exact whole-batch result") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    val events = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("es"))
      .as[(Long, Long, String, Long)].collect().toSeq
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, Long)]
    val partials = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String, Long, Long)]
    val seen = new AtomicInteger(0)
    val q = MicroBatch.start(
      in.toDF().toDF("user_id", "event_id", "event_type", "es"),
      // the BATCH op runs unchanged per micro-batch; each batch emits
      // its own per-key argmax partial
      processor = (_, df) =>
        Success(ops.Relational.latestByKey(df, "user_id", "event_id", "event_type", "es")),
      finalizer = (p, e) => {
        assert(e.isEmpty, s"latest-by-key failed in-stream: $e")
        p.foreach { df =>
          val rows = df.select("user_id", "last_event_id", "last_type",
            "last_ts_sec", "n_events").collect()
          rows.foreach(r => partials.add((r.getLong(0), r.getLong(1),
            r.getString(2), r.getLong(3), r.getLong(4))))
          seen.addAndGet(rows.map(_.getLong(4)).sum.toInt)
        }
      },
      pollInterval = 100.millis)
    // three uneven chunks: keys straddle batch boundaries, so the merge
    // step below actually has conflicts to resolve
    val (a, rest) = events.splitAt(events.size / 3)
    val (b, c) = rest.splitAt(rest.size / 3)
    in.addData(a); in.addData(b); in.addData(c)
    val deadline = System.currentTimeMillis() + 30000
    while (seen.get() < events.size && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    MicroBatch.stopGracefully(q)
    assert(seen.get() == events.size, s"streamed ${seen.get()} of ${events.size} events")
    // merge the per-batch partials with the SAME argmax + a count sum:
    // the result must be bit-identical to the single-pass batch op
    val partialRows: Seq[(Long, Long, String, Long, Long)] = {
      import scala.jdk.CollectionConverters._
      partials.asScala.toSeq
    }
    val merged = partialRows
      .toDF("user_id", "last_event_id", "last_type", "last_ts_sec", "n_events")
      .groupBy(col("user_id"))
      .agg(max(struct(col("last_ts_sec"), col("last_event_id"), col("last_type"))).as("m"),
        sum(col("n_events")).as("n_events"))
      .select(col("user_id"), col("m.last_event_id").as("last_event_id"),
        col("m.last_type").as("last_type"), col("m.last_ts_sec").as("last_ts_sec"),
        col("n_events"))
      .orderBy(col("user_id"))
      .collect().map(_.toSeq).toSeq
    val whole = ops.Relational.latestByKey(spark, sfDir)
      .select("user_id", "last_event_id", "last_type", "last_ts_sec", "n_events")
      .collect().map(_.toSeq).toSeq
    assert(merged == whole,
      "re-aggregated per-batch argmax partials differ from the whole-batch result")
  }

  test("digest-keyed exact dedup merges across micro-batches to the whole-batch result") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    // plant cross-batch duplicates: the whole corpus, then its first
    // half again — every replayed text straddles a batch boundary
    val data = docs ++ docs.take(docs.size / 2)
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val partials =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]
    val seen = new AtomicInteger(0)
    val q = MicroBatch.start(
      in.toDF().toDF("doc_id", "text"),
      // per-batch partial of the SAME digest-keyed aggregation
      // dedupExact runs: (digest → min id, copy count) — mergeable
      // because min and count are both associative
      processor = (_, df) => Success(
        df.groupBy(expr("md5(text)").as("digest"))
          .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))),
      finalizer = (p, e) => {
        assert(e.isEmpty, s"dedup partial failed in-stream: $e")
        p.foreach { df =>
          val rows = df.collect()
          rows.foreach(r => partials.add((r.getString(0), r.getLong(1), r.getLong(2))))
          seen.addAndGet(rows.map(_.getLong(2)).sum.toInt)
        }
      },
      pollInterval = 100.millis)
    in.addData(data.take(docs.size))
    in.addData(data.drop(docs.size))
    val deadline = System.currentTimeMillis() + 30000
    while (seen.get() < data.size && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    MicroBatch.stopGracefully(q)
    assert(seen.get() == data.size, s"streamed ${seen.get()} of ${data.size} docs")
    // re-aggregate the per-batch partials with the same merge (min of
    // mins, sum of counts) — must equal the single-pass batch op bit
    // for bit
    val merged = {
      import scala.jdk.CollectionConverters._
      partials.asScala.toSeq
    }.toDF("digest", "doc_id", "n_copies")
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("doc_id"), sum(col("n_copies")).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))
      .orderBy(col("doc_id"))
      .collect().map(_.toSeq).toSeq
    val whole = ops.Dedup.dedupExact(data.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(_.toSeq).toSeq
    assert(merged == whole,
      "merged per-batch dedup partials differ from the whole-batch dedupExact")
  }

  test("count-min cell grids merge across micro-batches to the whole-batch sketch") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val partials =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]
    val batches = new AtomicInteger(0)
    val q = MicroBatch.start(
      in.toDF().toDF("doc_id", "text"),
      // per-batch partial = the batch's own CMS cell grid
      processor = (_, df) => Success(ops.Diagnostics.countMinCells(df, "text")),
      finalizer = (p, e) => {
        assert(e.isEmpty, s"cell partial failed in-stream: $e")
        p.foreach { df =>
          df.collect().foreach(r =>
            partials.add((r.getInt(0), r.getLong(1), r.getLong(2))))
          batches.incrementAndGet()
        }
      },
      pollInterval = 100.millis)
    in.addData(docs.take(docs.size / 2))
    val d1 = System.currentTimeMillis() + 30000
    // wait out the first batch so the halves land in SEPARATE
    // micro-batches (MemoryStream folds all available data into one
    // trigger otherwise)
    while (batches.get() < 1 && System.currentTimeMillis() < d1)
      Thread.sleep(50)
    in.addData(docs.drop(docs.size / 2))
    val deadline = System.currentTimeMillis() + 30000
    while (batches.get() < 2 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    MicroBatch.stopGracefully(q)
    assert(batches.get() >= 2, s"saw ${batches.get()} batches")
    // fold the per-batch grids cell-wise — must equal the single-pass
    // grid bit for bit (the sketch-state mergeability law)
    val merged = {
      import scala.jdk.CollectionConverters._
      partials.asScala.toSeq
    }.toDF("row_j", "bucket", "cell_cnt")
      .groupBy(col("row_j"), col("bucket"))
      .agg(sum(col("cell_cnt")).as("cell_cnt"))
      .orderBy(col("row_j"), col("bucket"))
      .collect().map(_.toSeq).toSeq
    val whole = ops.Diagnostics
      .countMinCells(docs.toDF("doc_id", "text"), "text")
      .orderBy(col("row_j"), col("bucket"))
      .collect().map(_.toSeq).toSeq
    assert(merged == whole,
      "merged per-batch CMS cells differ from the whole-batch grid")
    assert(whole.size <= ops.Diagnostics.CmsDepth * ops.Diagnostics.CmsWidth)
  }

  test("dropDuplicatesWithinWatermark upstream of the bridge matches whole-batch distinct") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
      .map { case (id, t) => (id, t, base) }
    // chunk 1: the corpus; chunk 2: the corpus AGAIN (all duplicates,
    // arriving in a later micro-batch) plus 3 fresh sentinel docs — the
    // sentinels prove batch 2 was fully processed before the assert
    val sentinels = (1 to 3).map(i => (1000000L + i, s"sentinel text $i unique", base))
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, java.sql.Timestamp)]
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[String]
    // the stream-level dedup operator composes UPSTREAM of the bridge:
    // state lives in the streaming query, the processor sees only
    // first-occurrence rows
    val deduped = in.toDF().toDF("doc_id", "text", "ts")
      .withColumn("digest", expr("md5(text)"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("digest")
    val q = MicroBatch.start(
      deduped,
      processor = (_, df) => Success(df),
      finalizer = (p, e) => {
        assert(e.isEmpty, s"watermark dedup failed in-stream: $e")
        p.foreach(_.select("digest").collect().foreach(r => emitted.add(r.getString(0))))
      },
      pollInterval = 100.millis)
    in.addData(docs)
    in.addData(docs ++ sentinels)
    val expect = ops.Dedup
      .dedupExact((docs ++ docs ++ sentinels).toDF("doc_id", "text", "ts"),
        "doc_id", "text").count()
    val deadline = System.currentTimeMillis() + 30000
    while (emitted.size < expect && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    Thread.sleep(500) // grace: a leaked duplicate would emit late
    MicroBatch.stopGracefully(q)
    val digests = {
      import scala.jdk.CollectionConverters._
      emitted.asScala.toSeq
    }
    assert(digests.size == expect,
      s"streamed dedup emitted ${digests.size} rows, whole-batch distinct is $expect")
    assert(digests.distinct.size == digests.size,
      "a duplicate digest survived dropDuplicatesWithinWatermark")
  }

  test("decontamination composes into the bridge: per-batch vs static benchmark == whole-batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    val all = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    // the benchmark set is STATIC (the eval suites): stream only the
    // corpus under test, and let each micro-batch union the fixed
    // benchmark rows back in so the batch op runs unchanged
    val benchDf = all.filter(col("doc_id") % 97 === 0).cache()
    benchDf.count()
    val corpus = all.filter(col("doc_id") % 97 =!= 0)
      .as[(Long, String)].collect().toSeq
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Int)]
    val seen = new AtomicInteger(0)
    val q = MicroBatch.start(
      in.toDF().toDF("doc_id", "text"),
      processor = (_, df) => Success(
        ops.Curation.contamination(df.unionByName(benchDf), "doc_id", "text",
          col("doc_id") % 97 === 0)),
      finalizer = (p, e) => {
        assert(e.isEmpty, s"contamination failed in-stream: $e")
        p.foreach { df =>
          val got = df.collect()
          got.foreach(r => rows.add((r.getLong(0), r.getLong(1), r.getInt(2))))
          seen.addAndGet(got.length)
        }
      },
      pollInterval = 100.millis)
    // three uneven chunks, so contaminated docs land in different batches
    val (a, rest) = corpus.splitAt(corpus.size / 3)
    val (b, c) = rest.splitAt(rest.size / 3)
    in.addData(a); in.addData(b); in.addData(c)
    val deadline = System.currentTimeMillis() + 30000
    while (seen.get() < corpus.size && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    MicroBatch.stopGracefully(q)
    assert(seen.get() == corpus.size, s"streamed ${seen.get()} of ${corpus.size} docs")
    // per-doc contamination depends only on the doc and the benchmark
    // shingle set, so the union of disjoint per-batch outputs must
    // equal the whole-batch run exactly
    val streamed = {
      import scala.jdk.CollectionConverters._
      rows.asScala.toSeq
    }.sortBy(_._1)
    val whole = ops.Curation.contamination(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(streamed == whole,
      "per-batch decontamination against the static benchmark differs from whole-batch")
    benchDf.unpersist()
  }

  test("processor failure reaches the finalizer and the stream continues") {
    val errs = new AtomicInteger(0)
    val oks = new AtomicInteger(0)
    val n = new AtomicInteger(0)
    val q = MicroBatch.start(
      spark.readStream.format("rate").option("rowsPerSecond", "50").load(),
      processor = (_, df) =>
        if (n.getAndIncrement() == 0) Failure(new RuntimeException("batch boom"))
        else Success(df),
      finalizer = (_, e) => if (e.isDefined) errs.incrementAndGet() else oks.incrementAndGet(),
      pollInterval = 100.millis)
    val deadline = System.currentTimeMillis() + 15000
    while ((errs.get() < 1 || oks.get() < 1) && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    MicroBatch.stopGracefully(q)
    assert(errs.get() >= 1, "processor failure never reached the finalizer")
    assert(oks.get() >= 1, "stream did not continue after a batch failure")
  }

  test("two pipelines of each kind run side by side in one session under distinct names") {
    import java.nio.file.Files
    val batches = Seq.fill(2)(new AtomicInteger(0))
    def rate = spark.readStream.format("rate").option("rowsPerSecond", "20").load()
    val plain = batches.map(n => MicroBatch.start(rate,
      processor = (_, df) => Success(df),
      finalizer = (_, _) => n.incrementAndGet(),
      pollInterval = 100.millis))
    val exactlyOnce = Seq.fill(2)(MicroBatch.startExactlyOnce(rate,
      processor = (_, df) => Success(df),
      dataDir = Files.createTempDirectory("graft-mb-eo-data").toString,
      logDir = Files.createTempDirectory("graft-mb-eo-log").toString,
      pollInterval = 100.millis))
    val all = plain ++ exactlyOnce
    try {
      val deadline = System.currentTimeMillis() + 15000
      while (batches.exists(_.get() < 1) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(all.forall(_.isActive), all.flatMap(_.exception).mkString("; "))
      assert(batches.forall(_.get() >= 1), "a side-by-side pipeline processed no batch")
      assert(all.map(_.name).distinct.size == all.size, all.map(_.name))
    } finally all.foreach(MicroBatch.stopGracefully)
  }

  test("facade over a live stream end-to-end: supplier-error skip, timeout substitution, graceful stop, listener bridge") {
    // the §1.2/§7.4 mapping exercised as ONE pipeline at the real
    // seam: a MemoryStream source, the reference's scripted outcome
    // sequence (error batch → slow batch → healthy batch,
    // batch_processor_unit_test.go's error-then-ok script), a REAL
    // Spark job per healthy batch, and a StreamingQueryListener
    // bridging query lifecycle events to a terminal finalize — the
    // reference's Stop() drain observed from the engine side.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val script = new AtomicInteger(0)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val rowsProcessed = new AtomicInteger(0)
    val q = MicroBatch.start(
      in.toDF().toDF("v"),
      processor = (ctx, df) => script.getAndIncrement() match {
        case 0 => // supplier-error skip: the fetch-equivalent fails;
          // the reference logs and CONTINUES (batch_processor.go:104-108)
          throw new RuntimeException("some error")
        case 1 => // cooperative timeout: work overruns the deadline,
          // result still lands but carries the substituted timeout
          while (!ctx.isExpired) Thread.sleep(10)
          Success(df)
        case _ => // healthy batch: a real distributed Spark job
          Success(df.groupBy().agg(org.apache.spark.sql.functions
            .sum(org.apache.spark.sql.functions.col("v")).as("s")))
      },
      finalizer = (p, e) => (p, e) match {
        case (None, Some(err)) => events.add(s"skip:${err.getMessage}")
        case (Some(_), Some(err: java.util.concurrent.TimeoutException)) =>
          events.add(s"timeout:${err.getMessage}")
        case (Some(out), None) =>
          rowsProcessed.addAndGet(out.count().toInt)
          events.add("ok")
        case other => events.add(s"unexpected:$other")
      },
      processorTimeout = 200.millis)
    // listener bridge: lifecycle events for THIS query only
    val terminated = new java.util.concurrent.CountDownLatch(1)
    @volatile var termException: Option[String] = Some("never-fired")
    val progress = new AtomicInteger(0)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.id == q.id) progress.incrementAndGet()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.id == q.id) { termException = e.exception; terminated.countDown() }
    }
    spark.streams.addListener(listener)
    try {
      in.addData(1L, 2L); q.processAllAvailable()   // scripted supplier error
      in.addData(3L); q.processAllAvailable()        // scripted slow batch
      in.addData(4L, 5L, 6L); q.processAllAvailable() // healthy batch
      MicroBatch.stopGracefully(q)
      assert(terminated.await(15, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the graceful termination")
    } finally spark.streams.removeListener(listener)
    val got = events.toArray.map(_.toString).toSeq
    assert(got == Seq("skip:some error", "timeout:context canceled", "ok"),
      s"facade event order wrong: $got")
    assert(rowsProcessed.get() == 1, "healthy batch must land one aggregate row")
    assert(termException.isEmpty,
      s"graceful stop must terminate without exception: $termException")
    assert(progress.get() >= 3, s"listener saw ${progress.get()} progress events")
    assert(!q.isActive)
  }

  test("maxFilesPerTrigger bounds each dispatch: one file per micro-batch") {
    // the reference's bounded dispatch (batch_processor.go:115-145) in
    // file-source form: ingestion throttles to a fixed amount of work
    // per trigger instead of swallowing the whole backlog in one batch
    import java.nio.file.{Files, Paths}
    val src = Files.createTempDirectory("graft-bounded-src")
    val eventsFile = Paths.get(s"$sfDir/events.parquet")
    (1 to 3).foreach(i => Files.copy(eventsFile, src.resolve(s"f$i.parquet")))
    val perFile = Tables.table(spark, sfDir, "events").count()
    val batches = new AtomicInteger(0)
    val maxRows = new java.util.concurrent.atomic.AtomicLong(0)
    val q = MicroBatch.start(
      spark.readStream
        .schema(Tables.table(spark, sfDir, "events").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src.toString),
      processor = (_, df) => Success(df),
      finalizer = (p, _) => p.foreach { df =>
        batches.incrementAndGet()
        maxRows.getAndUpdate(m => math.max(m, df.count()))
      },
      availableNow = true)
    q.awaitTermination(60000)
    assert(batches.get() == 3, s"expected 3 bounded batches, got ${batches.get()}")
    assert(maxRows.get() == perFile,
      s"a single dispatch exceeded one file: ${maxRows.get()} vs $perFile rows")
  }

  test("restart from the same checkpoint delivers each file exactly once") {
    import java.nio.file.{Files, Paths}
    val src = Files.createTempDirectory("graft-ckpt-src")
    val ckpt = Files.createTempDirectory("graft-ckpt-wal").toString
    val schema = Tables.table(spark, sfDir, "events").schema
    val eventsFile = Paths.get(s"$sfDir/events.parquet")
    val perFile = Tables.table(spark, sfDir, "events").count()
    def run(): Long = {
      val n = new java.util.concurrent.atomic.AtomicLong(0)
      val q = MicroBatch.start(
        spark.readStream.schema(schema).parquet(src.toString),
        processor = (_, df) => Success(df),
        finalizer = (p, _) => p.foreach(df => n.addAndGet(df.count())),
        availableNow = true,
        checkpoint = Some(ckpt))
      q.awaitTermination(60000)
      n.get()
    }
    Files.copy(eventsFile, src.resolve("a.parquet"))
    assert(run() == perFile, "first run must deliver exactly the first file")
    // restart over the SAME checkpoint with one more file present: the
    // write-ahead log must skip the committed batch — only the new file
    // arrives, nothing is re-delivered, nothing is lost
    Files.copy(eventsFile, src.resolve("b.parquet"))
    assert(run() == perFile,
      "restart re-delivered committed data or missed the new file")
  }

  test("exactlyOnceParquetAppend: a replayed batch lands a single copy in every crash window") {
    import java.nio.file.Files
    import spark.implicits._
    val data = Files.createTempDirectory("graft-eo-data").toString
    val log = Files.createTempDirectory("graft-eo-log").toString
    val b0 = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    assert(MicroBatch.exactlyOnceParquetAppend(b0, 0L, data, log))
    assert(spark.read.parquet(data).count() == 2)
    // crash AFTER the marker: replay is skipped outright
    assert(!MicroBatch.exactlyOnceParquetAppend(b0, 0L, data, log))
    assert(spark.read.parquet(data).count() == 2)
    // crash BETWEEN data write and marker: simulate by deleting the
    // marker and replaying — dynamic overwrite must REPLACE the
    // partition, not append a second copy beside it
    val marker = new org.apache.hadoop.fs.Path(log, f"${0L}%020d")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(marker, false))
    assert(MicroBatch.exactlyOnceParquetAppend(b0, 0L, data, log))
    assert(spark.read.parquet(data).count() == 2, "replay duplicated the batch")
    // distinct batches append side by side under their partition keys
    assert(MicroBatch.exactlyOnceParquetAppend(Seq((3L, "z")).toDF("id", "v"), 1L, data, log))
    val all = spark.read.parquet(data)
    assert(all.count() == 3)
    assert(all.select("_batch_id").distinct().count() == 2)
    assert(all.filter(org.apache.spark.sql.functions.col("_batch_id") === 0L).count() == 2)
  }

  test("startExactlyOnce: checkpointed restart lands every source row exactly once in the table") {
    import java.nio.file.{Files, Paths}
    val src = Files.createTempDirectory("graft-eo-src")
    val ckpt = Files.createTempDirectory("graft-eo-wal").toString
    val data = Files.createTempDirectory("graft-eo-table").toString
    val log = Files.createTempDirectory("graft-eo-commits").toString
    val schema = Tables.table(spark, sfDir, "events").schema
    val eventsFile = Paths.get(s"$sfDir/events.parquet")
    val perFile = Tables.table(spark, sfDir, "events").count()
    def run(): Unit = {
      val q = MicroBatch.startExactlyOnce(
        spark.readStream.schema(schema).parquet(src.toString),
        processor = (_, df) => Success(df),
        dataDir = data, logDir = log,
        availableNow = true, checkpoint = Some(ckpt))
      q.awaitTermination(60000)
    }
    Files.copy(eventsFile, src.resolve("a.parquet"))
    run()
    assert(spark.read.parquet(data).count() == perFile)
    // restart over the same checkpoint with a second file: the WAL
    // skips the committed batch, the commit log guards the sink — the
    // table must grow by exactly one file's rows
    Files.copy(eventsFile, src.resolve("b.parquet"))
    run()
    assert(spark.read.parquet(data).count() == 2 * perFile,
      "restart duplicated or lost sink rows")
  }

}
