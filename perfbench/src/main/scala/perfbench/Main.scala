package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Benchmark JVM. `run.py` builds the classpath, makes a fresh working
  * directory per run and calls this with
  * `--workload W --seed N --seconds S --trace 0|1 --data DIR --out FILE`.
  * It writes the raw samples of the run to FILE as JSON; `run.py` turns
  * them into metrics and checks the outputs.
  *
  * Other modes: `--gen DIR` writes the sf0.01 and sf0.1 tables under
  * DIR; `--digest-dir DIR --out FILE` writes the digest of every query
  * result that `graft.Verify` dumped under DIR.
  */
object Main {
  /** The session width the workloads are sized for: `local[4]`. */
  val Cores = 4

  /** Set-up is repeated this many times per run; `setup_s` is their median. */
  val SetupReps = 3

  final case class Ctx(spark: SparkSession, trace: Trace, data: String, runDir: String)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a.get("gen") match {
      case Some(dir) =>
        val spark = session()
        Seq(0.01, 0.1).foreach(sf => graft.GenData.generate(spark, sf, s"$dir/sf$sf"))
        spark.stop()
        return
      case None =>
    }
    a.get("digest-dir") match {
      case Some(dir) =>
        val spark = session()
        val out = new java.io.File(dir).listFiles().filter(_.isDirectory).sortBy(_.getName)
          .map(d => d.getName -> Digest.of(spark.read.parquet(d.getPath))).toList
        spark.stop()
        write(a("out"), JObject(out.map { case (n, d) => n -> Digest.json(d) }))
        return
      case None =>
    }
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val runDir = Paths.get("").toAbsolutePath.toString
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val body: Ctx => JObject = workload match {
      case "queries"         => c => Queries.run(c, seed, seconds, traced)
      case "pipeline-ingest" => c => Ingest.pipeline(c, seed, seconds, traced)
      case "stream-dedup"    => c => Ingest.stream(c, seed, seconds, traced)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val sf001 = s"${a("data")}/sf0.01"

    // Set-up: build the session and run one warm probe, SetupReps times.
    // The first repetition also pays JVM class loading; `setup.first_s`
    // reports it from JVM start.
    val setups = scala.collection.mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var firstReady = 0.0
    for (rep <- 1 to SetupReps) {
      if (spark != null) { graft.PerfbenchMemos.clearAll(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session()
      graft.ops.Relational.pricingSummary(spark, sf001).count()
      setups += (System.nanoTime() - t0) / 1e9
      if (rep == 1) firstReady = (System.currentTimeMillis() - jvmStart) / 1e3
    }
    val trace = new Trace
    val raw = body(Ctx(spark, trace, a("data"), runDir))
    val spans = JArray(trace.all.toList.map { s =>
      JObject("id" -> JInt(s.id), "parent" -> JInt(s.parent), "name" -> JString(s.name),
        "start" -> JDouble(s.start), "end" -> JDouble(s.end),
        "attrs" -> JObject(s.attrs.toList.map { case (k, v) => k -> JString(v) }))
    })
    val sums = JObject(trace.stageSums.keySet.toArray(Array.empty[String]).sorted.toList
      .map(k => k -> JInt(trace.sum(k))))
    graft.PerfbenchMemos.clearAll()
    spark.stop()
    write(a("out"), raw ~ ("workload" -> workload) ~ ("seed" -> seed) ~
      ("cores" -> Cores) ~ ("setup_s" -> setups.toList) ~
      ("setup_first_s" -> firstReady) ~ ("sums" -> sums) ~ ("spans" -> spans))
  }

  def session(): SparkSession = {
    val spark = graft.GraftSession.local(Cores, "perfbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.quietBoundedWindowWarnings()
    spark
  }

  def write(path: String, v: JValue): Unit =
    Files.writeString(Paths.get(path), compact(render(v)))

  /** JVM-wide GC time and peak heap, for the storage layer's memory view. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  def resetHeapPeak(): Unit = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach(_.resetPeakUsage())
  }

  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
}
