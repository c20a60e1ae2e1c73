package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._

import graft.pipeline.{BatchContext, Pipeline}
import graft.sources.SupplierRegistry
import graft.streaming.{MicroBatch, StreamingDedup}
import Trace.nowMs

/** The two open-loop ingest workloads. The library pulls events from a
  * queue through its supplier and reports each batch to the finalizer.
  * A run has these phases, each waiting until every event sent so far
  * is finalized:
  *  1. warm-up: a burst of `Warm` events, checked but not timed;
  *  2. saturation: a prefilled backlog of `Backlog` events with no
  *     injected faults, timed until the last is finalized (`work_s`);
  *  3. open loop: a generator thread sends seeded Poisson arrivals at
  *     `Rate` for 60% of `--seconds`, with injected faults; each event's
  *     latency runs from its due time to its batch's finalizer call.
  * A traced run traces phase 3, then drains a second backlog traced and
  * a third untraced; the traced drain against the mean of the untraced
  * ones gives the tracing overhead.
  */
object Ingest {
  /** Fixed load parameters; perfbench/README.md records the same values. */
  object Pipe {
    val Rate = 400.0          // events/s, about half the measured saturation
    val BatchSize = 50        // most events one supplier call returns
    val MaxConcurrent = 4
    val NoBatchSleep = 5.millis
    val Timeout = 3000.millis
    val Warm = 4000
    val Backlog = 6000
  }
  object Stream {
    val Rate = 600.0
    val BatchSize = 400
    val PollInterval = 50.millis
    val Warm = 4000
    val Backlog = 6000
  }
  val SupplierErrorShare = 0.01 // of supplier calls
  // Per pipeline run: this many open-loop events make their batch throw,
  // and one, in the last 5% of the open loop, makes its batch overrun the
  // timeout. Fixed counts keep the faults' cost the same on every seed.
  val PoisonEvents = 2
  val OpenLoopShare = 0.6

  /** Sends `items(i)` at `t0 + offsets(i)` ms on its own thread, never
    * waiting for the system under test, and records each event's due
    * time and how late it was sent.
    */
  final class Generator[A](items: IndexedSeq[A], offsets: IndexedSeq[Double], first: Int,
                           queue: ConcurrentLinkedQueue[A], due: Array[Double],
                           lag: Array[Double]) extends Thread("perfbench-generator") {
    setDaemon(true)
    override def run(): Unit = {
      val t0 = nowMs()
      var i = 0
      while (i < items.length) {
        val wait = t0 + offsets(i) - nowMs()
        if (wait > 0) LockSupport.parkNanos((wait * 1e6).toLong)
        else while (i < items.length && t0 + offsets(i) <= nowMs()) {
          due(first + i) = t0 + offsets(i)
          queue.add(items(i))
          lag(first + i) = nowMs() - due(first + i)
          i += 1
        }
      }
    }
  }

  /** Poisson arrival offsets (ms) over `seconds` at `rate` per second. */
  def arrivals(rng: Random, rate: Double, seconds: Double): IndexedSeq[Double] =
    Iterator.iterate(0.0)(_ - math.log(1 - rng.nextDouble()) / rate * 1000).drop(1)
      .takeWhile(_ < seconds * 1000).toIndexedSeq

  /** Event layout and phase driver shared by both workloads. Ids run
    * warm-up, first backlog, open loop, then (traced runs) two more
    * backlogs; `items(i)` is the event with id i.
    */
  final class Load[A](warm: Int, backlog: Int, nOpen: Int, traced: Boolean, seed: Long) {
    val openFrom: Int = warm + backlog
    val openTo: Int = openFrom + nOpen
    val total: Int = openTo + (if (traced) 2 * backlog else 0)
    val due = new Array[Double](total)
    val lag = new Array[Double](total)
    val queue = new ConcurrentLinkedQueue[A]()
    val finalized = new AtomicInteger()
    val calls = new AtomicLong()
    val empty = new AtomicLong()
    val supplierErrors = new AtomicLong()
    @volatile var inject = false
    private val supRng = new Random(seed ^ 0x5eedL)

    /** One supplier call: an injected error while `inject` is on, else
      * up to `max` queued events.
      */
    def poll(max: Int): Try[Vector[A]] = {
      calls.incrementAndGet()
      if (inject && supRng.synchronized(supRng.nextDouble()) < SupplierErrorShare) {
        supplierErrors.incrementAndGet()
        Failure(new RuntimeException("injected supplier error"))
      } else {
        val b = Iterator.continually(queue.poll()).takeWhile(_ != null).take(max).toVector
        if (b.isEmpty) empty.incrementAndGet()
        Success(b)
      }
    }

    private def waitFinalized(n: Int): Unit = {
      val deadline = nowMs() + 30000
      while (finalized.get < n && nowMs() < deadline) Thread.sleep(2)
    }

    private def burst(items: IndexedSeq[A], from: Int, to: Int): Double = {
      val t0 = nowMs()
      (from until to).foreach { i => due(i) = t0; queue.add(items(i)) }
      waitFinalized(to)
      (nowMs() - t0) / 1e3
    }

    private def tracing(c: Main.Ctx, on: Boolean): Unit =
      if (on) { c.trace.attach(c.spark); c.trace.on = true }
      else { Thread.sleep(500); c.trace.on = false; c.trace.detach(c.spark) }

    def run(c: Main.Ctx, items: IndexedSeq[A], offsets: IndexedSeq[Double]): JObject = {
      val warmS = burst(items, 0, warm)
      val drains = scala.collection.mutable.ArrayBuffer(burst(items, warm, openFrom))
      if (traced) tracing(c, on = true)
      val calls0 = calls.get
      val empty0 = empty.get
      inject = true
      val gen = new Generator(items.slice(openFrom, openTo), offsets, openFrom, queue, due, lag)
      val t0 = nowMs()
      gen.start()
      gen.join()
      val backlogEnd = queue.size
      inject = false
      waitFinalized(openTo)
      val openMs = nowMs() - t0
      val openCalls = calls.get - calls0
      val openEmpty = empty.get - empty0
      if (traced) {
        drains += burst(items, openTo, openTo + backlog)
        tracing(c, on = false)
        drains += burst(items, openTo + backlog, total)
      }
      ("warm_round_s" -> warmS) ~ ("backlog" -> backlog) ~ ("drain_s" -> drains.toList) ~
        ("open_ms" -> openMs) ~
        ("backlog_end" -> backlogEnd) ~ ("supplier_calls" -> openCalls) ~
        ("empty_polls" -> openEmpty) ~ ("supplier_errors" -> supplierErrors.get) ~
        ("events" -> (("n" -> total) ~ ("open_from" -> openFrom) ~ ("open_to" -> openTo) ~
          ("due" -> due.toList) ~ ("lag" -> lag.toList)))
    }
  }

  sealed trait Item
  final case class Ev(id: Int, custkey: Long, amount: Long, flag: Int) extends Item
  final case class Tag(first: Int) extends Item
  final case class NationAgg(nation: Int, n: Long, amount: Long, ids: Seq[Long]) extends Item
  final class InjectedFailure(val ids: Seq[Int]) extends RuntimeException("injected processor failure")
  val Poison = 1
  val Slow = 2

  /** `pipeline.Pipeline` workload: each batch becomes a DataFrame joined
    * to `customer`, aggregated by nation and collected. A batch holding
    * a poison event throws; one holding the slow event runs past the
    * processor timeout.
    */
  def pipeline(c: Main.Ctx, seed: Long, seconds: Double, traced: Boolean): JObject = {
    val spark = c.spark
    import spark.implicits._
    val rng = new Random(seed)
    val customer = graft.Tables.customer(spark, s"${c.data}/sf0.01").select("c_custkey", "c_nationkey")
    val nationOf = customer.collect().map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).intValue)
    val offsets = arrivals(rng, Pipe.Rate, seconds * OpenLoopShare)
    val load = new Load[Item](Pipe.Warm, Pipe.Backlog, offsets.length, traced, seed)
    val nOpen = load.openTo - load.openFrom
    val poison = Seq.fill(PoisonEvents)(load.openFrom + rng.nextInt(math.max(1, nOpen))).toSet
    val slow = load.openTo - 1 - rng.nextInt(math.max(1, nOpen / 20))
    val events = (0 until load.total).map { i =>
      val flag = if (poison(i)) Poison else if (i == slow) Slow else 0
      Ev(i, nationOf(rng.nextInt(nationOf.length))._1, rng.nextInt(100000).toLong, flag)
    }

    // per batch, keyed by its first event id: supplier return, processor in/out
    val supplied = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
    val procTimes = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Double)]()
    val pickup = new Array[Double](load.total)
    val supplier = () => c.trace.span("pipeline.supplier") {
      load.poll(Pipe.BatchSize).map { b =>
        val t = nowMs()
        b.foreach { case e: Ev => pickup(e.id) = t; case _ => }
        b.headOption.foreach { case e: Ev => supplied.put(e.id, t); case _ => }
        b: Seq[Item]
      }
    }
    val processor = (ctx: BatchContext, batch: Seq[Item]) => {
      val pin = nowMs()
      val evs = batch.collect { case e: Ev => e }
      try c.trace.span("pipeline.process") {
        if (evs.exists(_.flag == Poison)) throw new InjectedFailure(evs.map(_.id))
        val rows = evs.map(e => (e.id.toLong, e.custkey, e.amount)).toDF("id", "custkey", "amount")
          .join(customer, col("custkey") === col("c_custkey"))
          .groupBy("c_nationkey")
          .agg(count(lit(1)), sum("amount"), collect_list("id"))
          .collect()
        if (evs.exists(_.flag == Slow)) while (!ctx.isExpired) Thread.sleep(2)
        Success(Tag(evs.head.id) +: rows.toSeq.map(r => NationAgg(
          r.getAs[Number](0).intValue, r.getLong(1), r.getLong(2), r.getSeq[Long](3))))
      } finally procTimes.put(evs.head.id, (pin, nowMs()))
    }
    val batches = new ConcurrentLinkedQueue[JValue]()
    val finalizer = (out: Option[Seq[Item]], err: Option[Throwable]) => {
      val fin = nowMs()
      c.trace.span("pipeline.finalize") {
        val (kind, first, ids, groups) = (out, err) match {
          case (_, Some(f: InjectedFailure)) => ("error", f.ids.head, f.ids, Nil)
          case (Some(items), e) =>
            val aggs = items.collect { case a: NationAgg => a }
            val first = items.collectFirst { case t: Tag => t.first }.getOrElse(-1)
            (e match {
              case None => "ok"
              case Some(_: java.util.concurrent.TimeoutException) => "timeout"
              case Some(other) => s"other: $other"
            }, first, aggs.flatMap(_.ids.map(_.toInt)), aggs)
          case (None, e) => (s"other: ${e.getOrElse("")}", -1, Nil, Nil)
        }
        val (pin, pout) = Option(procTimes.get(first)).getOrElse((0.0, 0.0))
        batches.add(("kind" -> kind) ~ ("ids" -> ids) ~
          ("groups" -> groups.map(g => List(g.nation.toLong, g.n, g.amount))) ~
          ("group_ids" -> groups.map(_.ids.toList)) ~
          ("supplied" -> Option(supplied.get(first)).map(_.doubleValue).getOrElse(0.0)) ~
          ("proc_in" -> pin) ~ ("proc_out" -> pout) ~ ("fin" -> fin) ~ ("fin_out" -> nowMs()))
        load.finalized.addAndGet(ids.size)
      }
      ()
    }

    val p = Pipeline[Item](Pipe.MaxConcurrent, supplier, processor)
      .withFinalizer(finalizer)
      .withNoBatchSleep(Pipe.NoBatchSleep)
      .withProcessorTimeout(Pipe.Timeout)
    p.start()
    val phases = load.run(c, events, offsets)
    val s0 = nowMs()
    p.stop()
    phases merge (("kind" -> "pipeline") ~ ("stop_ms" -> (nowMs() - s0)) ~
      ("slots" -> Pipe.MaxConcurrent) ~ ("batches" -> JArray(batches.asScala.toList)) ~
      ("nation_of" -> JObject(nationOf.toList.map { case (k, n) => k.toString -> JInt(n) })) ~
      ("events" -> (("pickup" -> pickup.toList) ~ ("flag" -> events.map(_.flag).toList) ~
        ("amount" -> events.map(_.amount).toList) ~ ("custkey" -> events.map(_.custkey).toList))))
  }

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** Text of content id `cid`: distinct ids give distinct texts. */
  def text(cid: Int): String = {
    val r = new Random(cid.toLong * 7919L)
    (s"doc$cid" +: Seq.fill(10 + r.nextInt(30))(Vocab(r.nextInt(Vocab.length)))).mkString(" ")
  }

  /** `SupplierSource` → `StreamingDedup.exactDedupIngest` → `MicroBatch.start`.
    * Most events carry fresh text; 8% copy an earlier event's text (a
    * duplicate across batches, mostly) and in the open loop 5% are
    * followed by a copy sent at the same instant (a duplicate within
    * one batch).
    */
  def stream(c: Main.Ctx, seed: Long, seconds: Double, traced: Boolean): JObject = {
    val spark = c.spark
    val rng = new Random(seed)
    val arrive = arrivals(rng, Stream.Rate, seconds * OpenLoopShare)
    val twin = arrive.map(_ => rng.nextDouble() < 0.05)
    val offsets = arrive.zip(twin).flatMap { case (t, d) => if (d) Seq(t, t) else Seq(t) }
    val load = new Load[String](Stream.Warm, Stream.Backlog, offsets.length, traced, seed)
    val isTwin = arrive.indices.flatMap(k => if (twin(k)) Seq(false, true) else Seq(false))
    val contents = scala.collection.mutable.ArrayBuffer.empty[Int]
    (0 until load.total).foreach { i =>
      val open = i >= load.openFrom && i < load.openTo
      contents += (if (open && isTwin(i - load.openFrom)) contents.last
        else if (contents.nonEmpty && rng.nextDouble() < 0.08) contents(rng.nextInt(contents.length))
        else contents.length)
    }
    val values = (0 until load.total).map(i => s"$i\t${text(contents(i))}")

    val supplierId = s"perfbench-$seed"
    SupplierRegistry.register(supplierId,
      () => c.trace.span("stream.supplier")(load.poll(Stream.BatchSize)))
    val docs = spark.readStream.format("graft.sources.SupplierSource")
      .option("supplierId", supplierId).load()
      .select(substring_index(col("value"), "\t", 1).cast("long").as("doc_id"),
        expr("substr(value, instr(value, '\\t') + 1)").as("text"))
    val statuses = StreamingDedup.exactDedupIngest(docs, "doc_id", "text").toDF()

    // the processor and finalizer of one trigger run in turn on the stream thread
    val batches = new ConcurrentLinkedQueue[JValue]()
    @volatile var stash: Seq[(Long, String)] = Nil
    val query = MicroBatch.start(statuses,
      processor = (_, df: DataFrame) => c.trace.span("stream.process") {
        stash = df.collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
        Success(df)
      },
      finalizer = (_: Option[DataFrame], err: Option[Throwable]) => {
        val rows = stash
        stash = Nil
        batches.add(("fin" -> nowMs()) ~ ("ids" -> rows.map(_._1)) ~
          ("status" -> rows.map(_._2)) ~ ("error" -> err.map(_.toString)))
        load.finalized.addAndGet(rows.size)
        ()
      },
      pollInterval = Stream.PollInterval,
      checkpoint = Some(s"${c.runDir}/checkpoint"))
    val phases = load.run(c, values, offsets)
    val s0 = nowMs()
    MicroBatch.stopGracefully(query)
    val stopMs = nowMs() - s0
    SupplierRegistry.unregister(supplierId)
    phases merge (("kind" -> "stream") ~ ("stop_ms" -> stopMs) ~
      ("batches" -> JArray(batches.asScala.toList)) ~
      ("events" -> ("content" -> contents.toList)))
  }
}
