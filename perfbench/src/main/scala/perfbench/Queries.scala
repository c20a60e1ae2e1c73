package perfbench

import scala.util.Random
import scala.util.control.NonFatal

import org.json4s._
import org.json4s.JsonDSL._

/** The closed-loop query workload: one client runs the queries one at
  * a time, a whole round at a time, in a per-round order drawn from the
  * seed.
  *
  * The set samples two kinds of query. From each single-pass module
  * (Relational, Advanced, Analytics, Diagnostics, Evaluation, Ranks,
  * Sampling, Sequence, AsOf, BloomJoin) it takes the query with the
  * median time at sf0.01 on the 4-core reference box, run at sf0.01,
  * where planning, job submission and driver gaps outweigh task time.
  * From each iterative-corpus module it takes one query run at sf0.1,
  * with `localCheckpoint` materialization, shuffles and core-bound
  * tasks: Graph's degree profile (it builds the memoized purchase-edge
  * frame each round), Dedup's record linkage and Similarity's IVF index
  * (k-means iterations). Those modules' median queries cost 2 to 8 s a
  * round each, and all 224 queries of the 13 modules about 88 s, so a
  * run, which must fit set-up, a cold warm-up round and several timed
  * rounds in well under a minute, takes this sample instead.
  */
object Queries {
  final case class Q(module: String, name: String, sf: String)

  val All: Seq[Q] = Seq(
    Q("Relational", "q_sliding_window", "sf0.01"), Q("Advanced", "q_rolling_distinct", "sf0.01"),
    Q("Analytics", "q_revenue_growth", "sf0.01"), Q("Diagnostics", "q_nelson_aalen", "sf0.01"),
    Q("Evaluation", "q_cuped", "sf0.01"), Q("Ranks", "q_tail_risk", "sf0.01"),
    Q("Sampling", "q_group_sample", "sf0.01"), Q("Sequence", "q_croston", "sf0.01"),
    Q("AsOf", "q_asof_join", "sf0.01"), Q("BloomJoin", "q_bloom_join", "sf0.01"),
    Q("Graph", "q_degree_profile", "sf0.1"), Q("Dedup", "q_record_linkage", "sf0.1"),
    Q("Similarity", "q_ann_ivf", "sf0.1"))

  /** Warm-up round (untimed, also records each result's digest), then
    * timed rounds until `seconds` have passed. A traced run splits the
    * time into untraced, traced and untraced thirds; the middle third
    * against the outer two gives the tracing overhead, with the bias of
    * the JIT still warming up partly cancelled.
    */
  def run(c: Main.Ctx, seed: Long, seconds: Double, traced: Boolean): JObject = {
    val spark = c.spark
    val entry = graft.SparkEntry.queries
    val rng = new Random(seed)
    val errors = scala.collection.mutable.ArrayBuffer.empty[JValue]

    val w0 = System.nanoTime()
    graft.PerfbenchMemos.clearAll()
    val digests = All.map { q =>
      q.name -> (try Digest.json(Digest.of(entry(q.name)(spark, s"${c.data}/${q.sf}")))
      catch { case NonFatal(e) => errors += JString(s"${q.name}: $e"); JNothing })
    }
    val warmS = (System.nanoTime() - w0) / 1e9

    val runs = scala.collection.mutable.ArrayBuffer.empty[JValue]
    var gcMs = 0L
    var heapPeak = 0.0
    var rddPeak = 0L
    def sampleStorage(traceOn: Boolean): Unit = if (traceOn)
      rddPeak = rddPeak.max(spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    def rounds(budget: Double, traceOn: Boolean): Unit = {
      if (traceOn) { c.trace.attach(spark); c.trace.on = true; Main.resetHeapPeak() }
      val gc0 = Main.gcMs()
      val t0 = System.nanoTime()
      var round = 0
      while (round == 0 || (System.nanoTime() - t0) / 1e9 < budget) {
        round += 1
        graft.PerfbenchMemos.clearAll()
        rng.shuffle(All).foreach { case Q(module, q, sf) =>
          val e0 = System.currentTimeMillis()
          val n0 = System.nanoTime()
          var nb = n0
          var eb = e0
          val ok = try {
            c.trace.span("query", Map("q" -> q, "module" -> module)) {
              val df = c.trace.span("ops.build") { entry(q)(spark, s"${c.data}/$sf") }
              nb = System.nanoTime(); eb = System.currentTimeMillis()
              sampleStorage(traceOn)
              c.trace.span("exec.action") {
                df.write.format("noop").mode("overwrite").save()
              }
              sampleStorage(traceOn)
            }
            true
          } catch { case NonFatal(e) => errors += JString(s"$q: $e"); false }
          val n1 = System.nanoTime()
          runs += (("q" -> q) ~ ("module" -> module) ~ ("traced" -> traceOn) ~
            ("ok" -> ok) ~ ("t0" -> e0) ~ ("tb" -> eb) ~
            ("t1" -> System.currentTimeMillis()) ~
            ("wall_ms" -> (n1 - n0) / 1e6) ~ ("build_ms" -> (nb - n0) / 1e6))
        }
      }
      if (traceOn) {
        Thread.sleep(500) // listener events arrive asynchronously
        c.trace.on = false
        c.trace.detach(spark)
        gcMs = Main.gcMs() - gc0
        heapPeak = Main.heapPeakMb()
      }
    }
    if (traced) {
      rounds(seconds / 3, traceOn = false)
      rounds(seconds / 3, traceOn = true)
      rounds(seconds / 3, traceOn = false)
    } else rounds(seconds, traceOn = false)

    ("kind" -> "queries") ~ ("warm_round_s" -> warmS) ~
      ("digests" -> JObject(digests.toList)) ~ ("runs" -> JArray(runs.toList)) ~
      ("errors" -> JArray(errors.toList)) ~ ("jvm_gc_ms" -> gcMs) ~
      ("jvm_heap_peak_mb" -> heapPeak) ~ ("rdd_bytes_peak" -> rddPeak)
  }
}
