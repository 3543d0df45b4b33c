package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.ops.CorpusScope
import graft.pipeline.{IngestPipeline, PipelineConfig, SnapshotSink}
import graft.sources.JdbcSnapshot

/** Output digest computed inside the forcing action: one job over the
  * plan's own RDD (the `queryExecution.toRdd` forcing `graft.Bench` uses),
  * each row hashed in its UnsafeRow form and the hashes summed, so the
  * digest ignores row order and partitioning but no extra job runs. */
object Digest {
  def force(df: DataFrame): (Long, String) = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      rows.foreach { r =>
        val u = proj(r)
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
      }
      Iterator.single((n, h))
    }.collect()
    val n = parts.map(_._1).sum
    (n, f"$n:${parts.map(_._2).sum}%016x:${schema.catalogString.hashCode}%08x")
  }
}

/** One benchmark process: builds the session with `graft.Bench`'s
  * settings, runs the fixed warm-up and prints `ready` (the end of set-up),
  * then runs the cold pass, the warm passes and the ingest tick loop, and
  * writes the run record (`--out`) for `perfbench/run.py` to score. */
object Main {
  /** Fixed warm-up queries, run on a separate small corpus so that no
    * measured corpus entry exists when the cold pass starts. */
  val WarmUpKeys = Seq("agg_pricing_summary", "text_token_topk")

  /** Seconds since the JVM started. */
  def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    val cores = opt("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionUp = uptimeS()
    val run = new Run(spark, opt, cores)
    run.setupPhases += "session" -> sessionUp
    run.warmUp()
    println("ready")
    System.out.flush()
    run.all()
    spark.stop()
  }
}

final class Run(spark: SparkSession, opt: Map[String, String], cores: Int) {
  private val sc = spark.sparkContext
  private val corpus = opt("corpus")
  private val runId = opt("run-id")
  private val spans = new Spans(runId)
  private val listener = new LayerListener
  private val runSpan = spans.open("run", runId, -1)

  /** Reference digests; without `--reference` outputs are not checked
    * (the count-repeat check runs fixtures that have no reference). */
  private val reference: Option[Map[String, String]] = opt.get("reference").map(readTsv)
  private val dumpDir = opt("dump")
  private val oracleSql = SparkEntry.oracleSql

  /** Self-test: a key that throws, and one whose output gains a row. */
  private val injectBase = opt.get("inject-failures")
  private val injected: Map[String, (SparkSession, String) => DataFrame] =
    injectBase.map { base =>
      Map[String, (SparkSession, String) => DataFrame](
        "selftest_throws" -> ((_, _) => throw new IllegalStateException("injected failure")),
        "selftest_altered" -> { (s, d) =>
          val df = SparkEntry.queries(base)(s, d)
          df.union(df.limit(1))
        })
    }.getOrElse(Map.empty)
  /** The key whose reference digest and oracle SQL an output is checked
    * against: its own, or the base of the altered self-test copy. */
  private def checkedAs(key: String): String =
    if (key == "selftest_altered") injectBase.get else key

  /** Pass order: the lines of `--keys`, or every declared key in sorted
    * order for `--keys all`. */
  private val keys: Seq[String] = {
    val ks =
      if (opt("keys") == "all") SparkEntry.queries.keys.toSeq.sorted
      else Files.readAllLines(Paths.get(opt("keys"))).asScala.toSeq.filter(_.nonEmpty)
    ks.filterNot(SparkEntry.queries.contains).foreach(k =>
      throw new IllegalArgumentException(s"unknown query key '$k'"))
    if (injected.isEmpty) ks else ks.take(1) ++ injected.keys.toSeq.sorted ++ ks.drop(1)
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private var heapPeak = 0L
  private def gcMs(): Long = gcBeans.map(_.getCollectionTime.max(0L)).sum

  private def wchar(): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .collectFirst { case l if l.startsWith("wchar:") => l.drop(6).trim.toLong }
      .getOrElse(throw new IllegalStateException("/proc/self/io has no wchar"))

  private def scopeSizes(): Map[String, Int] =
    CorpusScope.statsString.split(" ").toSeq.filter(_.contains("=")).map { e =>
      val Array(name, sizes) = e.split("=", 2)
      name -> sizes.takeWhile(_ != '/').toInt
    }.toMap

  private def readTsv(path: String): Map[String, String] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.contains("\t"))
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap

  private def countsJson(c: Counts) = ListMap(
    "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
    "task_run_s" -> c.taskRunMs / 1e3, "task_cpu_s" -> c.taskCpuNs / 1e9,
    "max_task_s" -> c.maxTaskMs / 1e3, "shuffle_write_b" -> c.shuffleWriteBytes,
    "spill_b" -> c.spillBytes)

  private def runKey(pass: Int, key: String, tracedPass: Boolean, parent: Int): ListMap[String, Any] = {
    val fn = injected.getOrElse(key, SparkEntry.queries(key))
    val qspan = spans.open("query", key, parent)
    val before = scopeSizes()
    val secs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase[T](ph: String)(body: => T): T = {
      sc.setLocalProperty(LayerListener.TagProperty, s"$pass|$key|$ph")
      val id = spans.open(ph, key, qspan)
      val t0 = System.nanoTime()
      try body finally {
        secs(ph) = (System.nanoTime() - t0) / 1e9
        spans.close(id)
      }
    }
    val outcome: Either[Throwable, (DataFrame, (Long, String))] =
      try {
        val df = phase("construct")(fn(spark, corpus))
        phase("plan")(df.queryExecution.executedPlan)
        Right((df, phase("exec")(Digest.force(df))))
      } catch { case NonFatal(e) => Left(e) }
      finally sc.setLocalProperty(LayerListener.TagProperty, null)
    spans.close(qspan)
    val after = scopeSizes()
    val builds = after.collect { case (f, n) if n > before.getOrElse(f, 0) =>
      f -> (n - before.getOrElse(f, 0)) }
    val counts =
      if (!tracedPass) ListMap.empty[String, Any]
      else ListMap(Seq("construct", "plan", "exec").map(ph =>
        ph -> countsJson(listener.take(sc, s"$pass|$key|$ph"))): _*)
    val base = ListMap[String, Any]("pass" -> pass, "key" -> key,
      "seconds" -> secs.values.sum) ++ secs.map { case (k, v) => s"${k}_s" -> v } ++
      ListMap("builds" -> builds, "counts" -> counts)
    outcome match {
      case Left(e) =>
        base ++ ListMap("ok" -> false, "error" -> s"${e.getClass.getName}: ${e.getMessage}")
      case Right((_, (rows, digest))) if reference.isEmpty =>
        base ++ ListMap("ok" -> true, "rows" -> rows, "digest" -> digest)
      case Right((df, (rows, digest))) =>
        val expected = reference.get.get(checkedAs(key))
        val matches = expected.contains(digest)
        // On a mismatch, keep the output for the oracle re-check
        // (untimed, after the key's own spans have closed).
        if (!matches) {
          val dir = s"$dumpDir/p$pass"
          df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$key")
          oracleSql.get(checkedAs(key)).foreach(sql => Files.writeString(Paths.get(s"$dir/$key.sql"), sql))
        }
        base ++ ListMap("ok" -> true, "rows" -> rows, "digest" -> digest,
          "reference" -> expected, "matches" -> matches)
    }
  }

  private def runPass(pass: Int, name: String, tracedPass: Boolean,
      ingest: Option[Ingest]): (ListMap[String, Any], Seq[ListMap[String, Any]]) = {
    if (tracedPass) sc.addSparkListener(listener)
    val pspan = spans.open("pass", name, runSpan)
    val gc0 = gcMs()
    val results = keys.map { k =>
      val r = runKey(pass, k, tracedPass, pspan)
      ingest.foreach(_.afterKey())
      r
    }
    val gcS = (gcMs() - gc0) / 1e3
    spans.close(pspan)
    if (tracedPass) sc.removeSparkListener(listener)
    // Heap occupancy right after a GC at the pass boundary, from the pools'
    // collection usage: collect, give Spark's ContextCleaner time to drop
    // the blocks of unreachable RDDs and shuffles, collect again.
    System.gc()
    Thread.sleep(300)
    System.gc()
    heapPeak = math.max(heapPeak,
      heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum)
    (ListMap("pass" -> pass, "name" -> name, "traced" -> tracedPass, "gc_s" -> gcS,
      "resident" -> scopeSizes()), results)
  }

  /** Snapshot sink of the ingest loop: overwrite-load the artifact into
    * embedded Derby, read it back, and digest the read-back rows inside
    * that read's own action. */
  private final class DerbySink(db: String, manifestDir: String, rowsOf: String => Long)
      extends SnapshotSink {
    val url = s"jdbc:derby:memory:$db;create=true"
    var loadStartNs = 0L
    var loadEndNs = 0L
    var loaded: Option[(Long, String)] = None
    def load(s: SparkSession, name: String): Unit = {
      loadStartNs = System.nanoTime()
      val art = s.read.parquet(s"$manifestDir/$name")
      JdbcSnapshot.snapshotOverwrite(art, url, "ingest_snapshot")
      val back = JdbcSnapshot.readTable(s, url, "ingest_snapshot", "id", 1L, rowsOf(name), 4)
        .select(art.schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
      loaded = Some(Digest.force(back))
      loadEndNs = System.nanoTime()
    }
  }

  /** The ingest loop: `IngestPipeline.run` ticks over a manifest dir that
    * gains one seeded artifact before each publishing tick. The ticks are
    * spread evenly over the measured passes (one after every few keys), so
    * their median samples the whole run rather than one moment of it. */
  private final class Ingest(dir: String, measuredKeys: Int) {
    private val staging = s"$dir/staging"
    private val manifestDir = s"$dir/manifest"
    Files.createDirectories(Paths.get(manifestDir))
    // one line per tick: "<artifact> <rows>", or "-" for a tick that
    // publishes nothing
    private val plan = Files.readAllLines(Paths.get(s"$dir/ticks")).asScala.toSeq
      .filter(_.nonEmpty)
      .map(l => if (l == "-") None else { val Array(n, r) = l.split(" "); Some((n, r.toLong)) })
    private val sink = new DerbySink(s"perfbench_${Paths.get(dir).getFileName}",
      manifestDir, plan.flatten.toMap)
    private val pipeline = new IngestPipeline(
      PipelineConfig(manifestDir, s"$dir/state", suffix = ".parquet"), sink)
    private var keysDone = 0
    val results = ArrayBuffer.empty[ListMap[String, Any]]

    def afterKey(): Unit = {
      keysDone += 1
      while (results.size < plan.size &&
          keysDone.toLong * plan.size >= (results.size + 1).toLong * measuredKeys)
        results += tick(results.size)
    }

    private def tick(i: Int): ListMap[String, Any] = {
      val publish = plan(i)
      val expected = publish.map { case (name, _) =>
        Files.move(Paths.get(s"$staging/$name"), Paths.get(s"$manifestDir/$name"),
          StandardCopyOption.ATOMIC_MOVE)
        Digest.force(spark.read.parquet(s"$manifestDir/$name"))._2
      }
      sink.loaded = None
      sink.loadStartNs = 0L
      val t0 = System.nanoTime()
      val got = try Right(pipeline.run(spark)) catch { case NonFatal(e) => Left(e) }
      val t1 = System.nanoTime()
      val tspan = spans.record("tick", s"tick$i", runSpan, t0, t1)
      val loadedAny = sink.loadStartNs != 0L
      val chooseEnd = if (loadedAny) sink.loadStartNs else t1
      spans.record("choose", s"tick$i", tspan, t0, chooseEnd)
      if (loadedAny) {
        spans.record("load", s"tick$i", tspan, sink.loadStartNs, sink.loadEndNs)
        spans.record("commit", s"tick$i", tspan, sink.loadEndNs, t1)
      }
      val error = got match {
        case Left(e) => Some(s"${e.getClass.getName}: ${e.getMessage}")
        case Right(name) if name != publish.map(_._1) =>
          Some(s"pipeline chose $name, expected ${publish.map(_._1)}")
        case Right(_) if expected.isDefined && sink.loaded.map(_._2) != expected =>
          Some(s"loaded table digest ${sink.loaded.map(_._2)} != artifact digest ${expected.get}")
        case _ => None
      }
      ListMap[String, Any]("tick" -> i, "artifact" -> publish.map(_._1),
        "rows" -> publish.map(_._2), "ok" -> error.isEmpty, "error" -> error,
        "seconds" -> (t1 - t0) / 1e9, "choose_s" -> (chooseEnd - t0) / 1e9,
        "load_s" -> (if (loadedAny) (sink.loadEndNs - sink.loadStartNs) / 1e9 else 0.0),
        "commit_s" -> (if (loadedAny) (t1 - sink.loadEndNs) / 1e9 else 0.0))
    }
  }

  /** The fixed warm-up: the warm-up queries on a corpus of their own, then
    * an empty CorpusScope. The Derby and JDBC start-up is left to the first
    * measured tick; tick_s is a median, so that one slow tick does not move
    * it. */
  def warmUp(): Unit = {
    Main.WarmUpKeys.foreach { k =>
      Digest.force(SparkEntry.queries(k)(spark, opt("warm-corpus")))
      setupPhases += k -> Main.uptimeS()
    }
    CorpusScope.dropAll()
  }

  /** Seconds since JVM start at the end of each set-up phase. */
  val setupPhases = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def all(): Unit = {
    // One flag per pass, the cold pass first: "t" runs the pass with the
    // listener registered, "u" without it. A traced run alternates warm
    // passes (u,t,u), so the tracing overhead is the traced warm pass minus
    // the mean of its untraced neighbours, passes in like positions.
    val plan = opt("passes").split(",").toSeq.map(_ == "t")
    val ingest = opt.get("ingest").map(new Ingest(_, keys.size * plan.size))
    val w0 = wchar()
    val passes = plan.zipWithIndex.map { case (t, i) =>
      runPass(i, if (i == 0) "cold" else "warm", t, ingest)
    }
    val written = wchar() - w0
    val ticks = ingest.map(_.results.toSeq).getOrElse(Nil)
    spans.close(runSpan)
    val record = ListMap[String, Any](
      "run_id" -> runId, "cores" -> cores, "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_b" -> Runtime.getRuntime.maxMemory,
      "keys" -> keys, "passes" -> passes.map(_._1), "queries" -> passes.flatMap(_._2),
      "ticks" -> ticks, "wchar_b" -> written, "heap_peak_b" -> heapPeak,
      "setup_phases_s" -> setupPhases,
      "untagged" -> (if (plan.contains(true)) countsJson(listener.take(sc, "untagged")) else null))
    Files.writeString(Paths.get(opt("out")), Json.render(record))
    if (plan.contains(true)) spans.write(opt("spans"))
  }
}
