package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.io.Source
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftbench.SparkInternals
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Session, SparkEntry}
import graft.mr.{Apps, MRJob}
import graft.operators.Materialize

/** Drives graft through its public entry points and records what it sees.
  *
  *   Harness <fixtureDir> <opsFile> <outDir> <seconds> <warmReps> <minReps> <warmQuery> <trace 0|1> <resultFile>
  *
  * Sets up (Session.build and one warm-up query), runs `warmReps` untimed
  * warm-up repetitions, the first of which keeps its outputs under
  * `outDir/warm` for checking, then timed repetitions until at least
  * `seconds` have been measured and at least `minReps` have run. Each line
  * of `opsFile` is `query <name>` or `mr <wc|indexer> <inputDir>`. Before each timed
  * repetition, outside its timing, shared pins, cached tables and
  * materialized blocks are freed and a GC runs until the ContextCleaner
  * goes quiet, so every repetition does the same work.
  *
  * Every repetition after the first records its own peak resident memory:
  * the kernel's high-water mark (VmHWM) is reset just before it starts and
  * read when it ends. After it, outside its timing, a full GC measures
  * the heap the repetition left live (its pins and cached tables
  * included).
  *
  * Every call is timed as a span (name, start, end, parent, repetition).
  * With trace 1 every second timed repetition, starting with the second,
  * also registers [[Tracer]] and names each span as the Spark job group;
  * the others stay untraced, so the tracing overhead is measured in the
  * same process. The result file is one JSON object; perfbench/metrics.py
  * analyses it.
  */
object Harness {
  sealed trait Op { def name: String }
  final case class Query(name: String) extends Op
  final case class Mr(app: String, input: String) extends Op {
    def name: String = s"mr_$app"
  }

  final case class Span(id: Int, name: String, kind: String, parent: Int, rep: Int,
      traced: Boolean, startMs: Double, var endMs: Double = 0.0)

  private val t0Ns = System.nanoTime
  private val t0Ms = System.currentTimeMillis.toDouble
  /** Wall-clock milliseconds with nanoTime resolution, comparable to the
    * epoch times in Spark's listener events. */
  def nowMs: Double = t0Ms + (System.nanoTime - t0Ns) / 1e6

  private val spans = mutable.ArrayBuffer[Span]()
  private val failures = mutable.ArrayBuffer[Map[String, Any]]()
  private val storedBytes = mutable.Map[Int, Long]()
  private val liveHeap = mutable.Map[Int, Long]()
  private val repPeakRss = mutable.Map[Int, Long]()
  private var tracer: Option[(Tracer, SparkSession)] = None

  def span[T](name: String, kind: String, parent: Int, rep: Int)(body: Int => T): T = {
    val s = Span(spans.size, name, kind, parent, rep, tracer.isDefined, nowMs)
    spans += s
    tracer.foreach { case (_, spark) =>
      spark.sparkContext.setJobGroup(s.id.toString, s"$kind:$name", false)
    }
    try body(s.id)
    finally {
      s.endMs = nowMs
      tracer.foreach { case (t, spark) =>
        if (parent >= 0) spark.sparkContext.setJobGroup(parent.toString, "", false)
        else spark.sparkContext.clearJobGroup()
        SparkInternals.drainListenerBus(spark.sparkContext)
        t.claimPlans(s.id.toString)
        val stored = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        storedBytes(s.id) = stored
      }
    }
  }

  def setUp(fixture: String, warmQuery: String): SparkSession = {
    val spark = span("Session.build", "session", -1, -1)(_ => Session.build("graftbench"))
    span(warmQuery, "warmup", -1, -1) { _ =>
      SparkEntry.queries(warmQuery)(spark, fixture).write.format("noop").mode("overwrite").save()
    }
    spark
  }

  def parseOps(file: String): Seq[Op] =
    Source.fromFile(file).getLines().map(_.trim).filter(_.nonEmpty).map { l =>
      l.split(" ", 3).toSeq match {
        case Seq("query", n) => Query(n)
        case Seq("mr", app, in) => Mr(app, in)
        case _ => throw new IllegalArgumentException(s"bad op line: $l")
      }
    }.toSeq

  /** One repetition; returns its span id. With `keep` (the warm-up
    * repetition) query outputs go to parquet under `outDir/warm` for
    * checking, else to the noop sink. */
  def repetition(spark: SparkSession, fixture: String, ops: Seq[Op], rep: Int,
      outDir: String, keep: Boolean): Int =
    span(s"rep$rep", "rep", -1, rep) { repId =>
      ops.foreach { op =>
        try span(op.name, "op", repId, rep) { opId =>
          op match {
            case Query(name) =>
              val df: DataFrame = span(name, "build", opId, rep) { _ =>
                SparkEntry.queries(name)(spark, fixture)
              }
              span(name, "exec", opId, rep) { _ =>
                if (keep) df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/warm/$name")
                else df.write.format("noop").mode("overwrite").save()
              }
            case Mr(app, input) =>
              val mrApp = app match {
                case "wc" => Apps.WordCount
                case "indexer" => Apps.Indexer
              }
              val dst = s"$outDir/${if (keep) "warm" else "timed"}/${op.name}"
              span(op.name, "mr", opId, rep)(_ => MRJob.run(spark, mrApp, input, dst, 10))
          }
        } catch {
          case e: Throwable =>
            failures += Map("op" -> op.name, "rep" -> rep,
              "error" -> s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
                .take(500))
        }
      }
      repId
    }

  def hygiene(spark: SparkSession, rep: Int, cleaner: SparkInternals.CleanerWatch): Unit = {
    span("free", "free", -1, rep) { _ =>
      Materialize.releaseShared(spark)
      spark.catalog.clearCache()
      Materialize.freeAll(spark)
    }
    SparkInternals.gcAndWaitForCleaner(cleaner)
  }

  /** Heap in use after a full GC. */
  def liveHeapBytes: Long = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getUsage.getUsed).sum
  }

  /** Resets VmHWM to the current resident size (Linux 4.0 and later). */
  def resetPeakRss(): Unit = Files.writeString(Paths.get("/proc/self/clear_refs"), "5")

  def peakRssKb: Long = {
    val status = Source.fromFile("/proc/self/status")
    try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally status.close()
  }

  def write(file: String, result: Map[String, Any]): Unit = {
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(file), mapper.writeValueAsString(result))
  }

  def spanJson: Seq[Map[String, Any]] = spans.map(s => Map("id" -> s.id,
    "name" -> s.name, "kind" -> s.kind, "parent" -> s.parent, "rep" -> s.rep,
    "traced" -> s.traced, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
    "stored_b" -> storedBytes.getOrElse(s.id, 0L),
    "live_heap_b" -> liveHeap.getOrElse(s.id, 0L),
    "peak_rss_kb" -> repPeakRss.getOrElse(s.id, 0L))).toSeq

  def host(spark: SparkSession): Map[String, Any] = Map(
    "spark" -> spark.version, "java" -> System.getProperty("java.version"),
    "master" -> spark.sparkContext.master)

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq(fixture, opsFile, outDir, seconds, warmReps, minReps, warmQuery, trace, resultFile) =>
      val ops = parseOps(opsFile)
      val spark = setUp(fixture, warmQuery)
      val setupDoneMs = nowMs
      val cleaner = SparkInternals.watchCleaner(spark.sparkContext)
      repetition(spark, fixture, ops, 0, outDir, keep = true)
      val t = new Tracer
      val first = warmReps.toInt
      var measuredMs = 0.0
      var rep = 1
      // a traced run ends on an untraced repetition, so every traced one
      // has an untraced neighbour on each side
      def more = rep < first + minReps.toInt || measuredMs < seconds.toDouble * 1000 ||
        (trace == "1" && (rep - first) % 2 == 0)
      while (more) {
        hygiene(spark, rep, cleaner)
        if (trace == "1" && rep > first && (rep - first) % 2 == 1) {
          spark.sparkContext.addSparkListener(t)
          spark.listenerManager.register(t)
          tracer = Some(t -> spark)
        }
        resetPeakRss()
        val start = nowMs
        val repId = repetition(spark, fixture, ops, rep, outDir, keep = false)
        if (rep >= first) measuredMs += nowMs - start
        repPeakRss(repId) = peakRssKb
        liveHeap(repId) = liveHeapBytes
        tracer.foreach { case (tr, s) =>
          SparkInternals.drainListenerBus(s.sparkContext)
          s.sparkContext.removeSparkListener(tr)
          s.listenerManager.unregister(tr)
        }
        tracer = None
        rep += 1
      }
      write(resultFile, Map("setup_done_ms" -> setupDoneMs, "warm_reps" -> first,
        "spans" -> spanJson,
        "failures" -> failures.toSeq,
        "host" -> host(spark), "oracle_sql" -> ops.collect {
          case Query(n) => n -> SparkEntry.oracleSql.getOrElse(n, "")
        }.toMap) ++ (if (trace == "1") t.toJson else Map.empty))
      spark.stop()

    case _ =>
      System.err.println("usage: Harness <fixtureDir> <opsFile> <outDir> <seconds> " +
        "<warmReps> <minReps> <warmQuery> <trace 0|1> <resultFile>")
      sys.exit(2)
  }
}
