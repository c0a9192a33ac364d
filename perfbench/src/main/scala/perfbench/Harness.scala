package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

import graft.SparkEntry
import graft.catalog.Warehouse
import graft.datasets.{DatasetSpec, Registry}
import graft.ingest.SourceSpec
import graft.runner.{DbTool, JobRunner, Notifier}
import graft.state.{FileStateStore, HttpCheck, HttpClient, StateStore}

/** The benchmark's JVM side: runs one workload as a closed loop (one
  * client, one thread issuing operations) and writes every raw
  * measurement to a JSON file; `perfbench/run.py` turns that file into
  * metrics.
  *
  *   Harness run <workload> <seed> <seconds> <trace:0|1> <warmup>
  *               <dataDir> <listFile> <workDir> <outFile>
  *   Harness dump <workload> <dataDir> <listFile> <workDir> <outDir>
  *
  * A run sets up once: a SparkSession, then `warmup` untimed passes (the
  * first of them in a cold JVM). Then it times passes for about
  * `seconds`: at least one, and another only while it should end within
  * them. With trace 1, passes alternate between untraced and traced, so
  * the same run also gives the tracing overhead. `dump` runs one pass and
  * writes each operation's row count and content hash, and each result
  * as parquet, for the oracle cross-check that writes the expected values.
  *
  * Spark gets `local[2]`, not every core: the JIT compiler, the
  * garbage collector and the OS keep two cores, so a pass does not wait
  * on how the host schedules more busy threads than it has cores.
  */
object Harness {
  val cores: Int = math.min(2, Runtime.getRuntime.availableProcessors)

  /** One operation of a pass: its name and what it does. It returns a
    * row count and a content hash, which `run.py` checks against the
    * committed expected values.
    */
  final case class Op(name: String, run: Tracer => (Long, String))

  final case class OpResult(name: String, s: Double, rows: Long,
      hash: String, error: String)

  final case class PassRecord(traced: Boolean, wall: Double, cpu: Double, canary0: Double,
      canary1: Double, load: Double, ops: Seq[OpResult], spans: Seq[Span],
      counts: Map[String, Double], start: Long)

  trait Workload {
    /** The operations of one pass, in the order this pass runs them. */
    def pass(spark: SparkSession, rng: Random): Seq[Op]
    def extra(): Map[String, Double] = Map.empty
  }

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(work.resolve("checkpoints").toString)
    spark
  }

  /** Registry queries: build the DataFrame, then read all of it. */
  final class Queries(dataDir: String, names: Seq[String]) extends Workload {
    private val builders = names.map { n =>
      n -> SparkEntry.queries.getOrElse(n,
        throw new IllegalArgumentException(s"unknown query $n"))
    }
    def pass(spark: SparkSession, rng: Random): Seq[Op] =
      rng.shuffle(builders).map { case (n, build) =>
        Op(n, tr => {
          val df = tr.span("queries.build")(build(spark, dataDir))
          tr.span("queries.exec")(Canon.rowsAndHash(df))
        })
      }
  }

  /** The load pipeline: every listed dataset through `JobRunner.run`
    * into one warehouse, every published table read back, then
    * `vacuum`, so each pass ends in the same on-disk state.
    * (`DbTool.rowcounts` would add about 3 s to a 11 s pass, more than
    * the run budget allows; the reads check the row counts anyway.)
    */
  final class Refresh(dataDir: String, names: Seq[String], work: Path)
      extends Workload {
    private val whRoot = work.resolve("warehouse")
    private val statePath = whRoot.resolve("state.json")
    private val wh = new Warehouse(whRoot)
    private val specs = {
      val all = Registry.datasets(dataDir).map(d => d.name -> d).toMap
      names.map(n => all.getOrElse(n,
        throw new IllegalArgumentException(s"unknown dataset $n")))
    }
    private val tables = specs.flatMap(_.tableNames).sorted

    deleteTree(whRoot)

    def pass(spark: SparkSession, rng: Random): Seq[Op] = {
      val runs = rng.shuffle(specs).map { ds =>
        Op(s"run:${ds.name}", tr => {
          val plain = new FileStateStore(statePath)
          val (spec, store) = tr match {
            case on: Tracer.On => (wrap(ds, on), new TracedStore(plain, statePath, on))
            case _ => (ds, plain)
          }
          val ok = tr.span(s"runner.run/${ds.name}")(
            new JobRunner(spark, wh, store, NoHttp, Silent).run(spec, force = true))
          if (tr ne Tracer.Off) {
            val written = dataFiles(ds.tableNames.map(wh.manifest))
            tr.count("catalog.files_written", written.size)
            tr.count("catalog.bytes_written", written.map(Files.size).sum.toDouble)
          }
          (if (ok) ds.tableNames.size.toLong else -1L, ds.tableNames.sorted.mkString(","))
        })
      }
      val reads = rng.shuffle(tables).map { t =>
        Op(s"read:$t", tr => tr.span("catalog.read")(Canon.rowsAndHash(wh.table(spark, t))))
      }
      val tool = new DbTool(spark, wh, new FileStateStore(statePath), _ => ())
      val vacuum = Op("vacuum", tr => {
        val dropped = tr.span("catalog.vacuum")(tool.vacuum(0))
        tr.count("catalog.dirs_dropped", dropped.size)
        (dropped.size.toLong, "")
      })
      runs ++ reads :+ vacuum
    }

    /** The parquet part files under the given warehouse directories. */
    private def dataFiles(rels: Seq[String]): Seq[Path] =
      rels.flatMap(rel => files(whRoot.resolve(rel)))
        .filter(_.getFileName.toString.startsWith("part-"))

    /** Published bytes (after the last vacuum) and source bytes. */
    override def extra(): Map[String, Double] = Map(
      "stored_bytes" -> dataFiles(wh.manifest.values.toSeq).map(Files.size).sum.toDouble,
      "input_bytes" -> files(Paths.get(dataDir))
        .filter(_.toString.endsWith(".parquet")).map(Files.size).sum.toDouble)

    /** The injectable parts of a dataset, each inside a span. */
    private def wrap(ds: DatasetSpec, tr: Tracer.On): DatasetSpec = ds.copy(
      sources = ds.sources.map(s => new SourceSpec {
        def name: String = s.name
        def read(spark: SparkSession): DataFrame = tr.span("ingest.read")(s.read(spark))
      }),
      derived = ds.derived.map { case (n, f) =>
        n -> ((s: SparkSession, base: Map[String, DataFrame]) =>
          tr.span("queries.build")(f(s, base)))
      },
      udfs = ds.udfs.map { case (n, f) =>
        n -> ((s: SparkSession) => tr.span("functions.register")(f(s)))
      })
  }

  /** `FileStateStore` with each call in a span; every `set` and
    * `delete` rewrites the whole file, so its size is the bytes written.
    */
  final class TracedStore(inner: StateStore, path: Path, tr: Tracer.On)
      extends StateStore {
    private def op[A](kind: String)(body: => A): A = {
      tr.count("state.ops", 1)
      tr.span(s"state.$kind")(body)
    }
    private def wrote(): Unit = tr.count("state.bytes_written", Files.size(path).toDouble)
    def get(key: String): Option[String] = op("get")(inner.get(key))
    def set(key: String, value: String): Unit = { op("set")(inner.set(key, value)); wrote() }
    def delete(key: String): Unit = { op("delete")(inner.delete(key)); wrote() }
    def keys: Seq[String] = op("keys")(inner.keys)
  }

  /** Registry datasets are local files; a remote check is a bug here. */
  object NoHttp extends HttpClient {
    def check(url: String, headers: Map[String, String]): HttpCheck =
      throw new IllegalStateException(s"unexpected remote check of $url")
  }

  object Silent extends Notifier {
    def sendmsg(text: String): Unit = ()
  }

  def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** The host-contention canary: the bench canary's fixed CPU work
    * (xxhash64 over a range), cut to 4M rows.
    */
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 4L * 1000 * 1000, 1L, cores)
      .select(bit_xor(xxhash64(col("id")))).head()
    (System.nanoTime() - t0) / 1e9
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  /** CPU seconds of this JVM, all threads. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  def load(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  def runPass(spark: SparkSession, w: Workload, rng: Random,
      traced: Boolean): PassRecord = {
    val c0 = canary(spark)
    val stats = new SparkStats
    val tr: Tracer = if (traced) new Tracer.On else Tracer.Off
    if (traced) {
      spark.sparkContext.addSparkListener(stats)
      spark.listenerManager.register(stats)
    }
    val ops = w.pass(spark, rng)
    val cpu0 = processCpuS()
    val start = Tracer.now()
    val results = ops.map { op =>
      val t0 = System.nanoTime()
      val (rows, hash, err) =
        try { val (r, h) = op.run(tr); (r, h, "") }
        catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] ${op.name} failed: $e")
          (-1L, "", s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        }
      OpResult(op.name, (System.nanoTime() - t0) / 1e9, rows, hash, err)
    }
    val wall = (Tracer.now() - start) / 1e9
    val cpu = processCpuS() - cpu0
    val (spans, counts) = tr match {
      case on: Tracer.On =>
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(stats)
        spark.listenerManager.unregister(stats)
        attachJobs(on, stats)
        (on.spans.toSeq, (on.counts ++ stats.counts).toMap)
      case _ => (Nil, Map.empty[String, Double])
    }
    PassRecord(traced, wall, cpu, c0, canary(spark), load(), results, spans, counts, start)
  }

  /** Each Spark job becomes a `spark.job` span under the innermost span
    * open when it started (one operation runs at a time).
    */
  def attachJobs(tr: Tracer.On, stats: SparkStats): Unit = {
    val open = tr.spans.toList
    val jobSpans = stats.jobs.toSeq.filter(_._2._2 >= 0).map { case (job, (t0, t1)) =>
      // job times have millisecond resolution
      val parent = open.filter(s => s.t0 - 1000000L <= t0 && t0 <= s.t1)
        .sortBy(s => s.t1 - s.t0).headOption.map(_.id).getOrElse(-1)
      job -> tr.add(parent, "spark.job", t0, t1).id
    }
    publishSpans(tr)
    scanCounts(tr, stats, jobSpans)
  }

  /** The source scan of the dataset loads. `SourceSpec.read` returns a
    * lazy DataFrame (it lists the files and reads the schema); the files
    * are read by the jobs that build and publish the tables. Every task
    * of a job inside a `runner.run` span that reads input files reads
    * sources, so its bytes, records and run time count under ingest.
    */
  def scanCounts(tr: Tracer.On, stats: SparkStats, jobSpans: Seq[(Int, Int)]): Unit = {
    val byId = tr.spans.map(s => s.id -> s).toMap
    def inRun(id: Int): Boolean = byId.get(id).exists(s =>
      s.name.startsWith("runner.run/") || inRun(s.parent))
    val stages = jobSpans.filter(j => inRun(j._2))
      .flatMap(j => stats.jobStages.getOrElse(j._1, Nil)).distinct
    val in = stages.flatMap(stats.stageInput.get)
    tr.count("ingest.scan_bytes", in.map(_._1).sum)
    tr.count("ingest.scan_records", in.map(_._2).sum)
    tr.count("ingest.scan_task_s", in.map(_._3).sum)
  }

  /** `catalog.publish` inside each `runner.run`: from the end of the last
    * source read or derived build to the first function registration
    * or state call (`JobRunner.run` publishes between the two).
    */
  def publishSpans(tr: Tracer.On): Unit = {
    val all = tr.spans.toList
    all.filter(_.name.startsWith("runner.run/")).foreach { run =>
      val kids = all.filter(_.parent == run.id)
      val from = (run.t0 +: kids.filter(k => k.name == "ingest.read" ||
        k.name == "queries.build").map(_.t1)).max
      val to = (run.t1 +: kids.filter(k => k.t0 >= from &&
        (k.name == "functions.register" || k.name.startsWith("state.")))
        .map(_.t0)).min
      val publish = tr.add(run.id, "catalog.publish", from, to)
      // jobs attached to the run inside that window belong to the publish
      tr.spans.indices.foreach { i =>
        val s = tr.spans(i)
        if (s.name == "spark.job" && s.parent == run.id && s.t0 >= from - 1000000L && s.t0 <= to)
          tr.spans(i) = s.copy(parent = publish.id)
      }
    }
  }

  def workload(name: String, dataDir: String, names: Seq[String], work: Path): Workload =
    name match {
      case "refresh" => new Refresh(dataDir, names, work)
      case _ => new Queries(dataDir, names)
    }

  def readList(file: String): Seq[String] =
    Files.readAllLines(Paths.get(file)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: wl :: seed :: seconds :: trace :: warmup :: dataDir ::
        listFile :: workDir :: outFile :: Nil =>
      val work = Paths.get(workDir)
      val t00 = System.nanoTime()
      val w = workload(wl, dataDir, readList(listFile), work)
      val rng = new Random(seed.toLong)
      val spark = session(work)
      val sessionS = (System.nanoTime() - t00) / 1e9
      val warm = (1 to warmup.toInt).map(_ => runPass(spark, w, rng, traced = false))
      val budget = seconds.toDouble * 1e9
      val cap = 150e9 // stay inside the 180-s run limit
      val m0 = System.nanoTime()
      val passes = mutable.ArrayBuffer.empty[PassRecord]
      // another pass only if it should end within the budget, judged
      // by the last pass. A traced run alternates untraced and traced
      // passes as U T T U ..., at least those four, so the warm-up that
      // continues across passes does not favour either kind.
      def more: Boolean = {
        val next = System.nanoTime() - m0 + passes.lastOption.fold(0.0)(_.wall * 1e9)
        val need = passes.size < (if (trace == "1") 4 else 1)
        (need || next <= budget) && System.nanoTime() - t00 < cap
      }
      while (more) passes += runPass(spark, w, rng,
        traced = trace == "1" && Set(1, 2).contains(passes.size % 4))
      val out = Json.obj(
        "cores" -> Json.num(cores),
        "session_s" -> Json.num(sessionS),
        "warmup" -> Json.arr(warm.map(pass)),
        "passes" -> Json.arr(passes.toSeq.map(pass)),
        "peak_rss_mb" -> Json.num(peakRssMb()),
        "extra" -> Json.obj(w.extra().toSeq.map { case (k, v) => k -> Json.num(v) }: _*))
      Files.writeString(Paths.get(outFile), out)
      spark.stop()

    case "dump" :: wl :: dataDir :: listFile :: workDir :: outDir :: Nil =>
      val work = Paths.get(workDir)
      val spark = session(work)
      val names = readList(listFile)
      val out = Paths.get(outDir)
      Files.createDirectories(out)
      val lines = wl match {
        case "refresh" =>
          val ops = new Refresh(dataDir, names, work).pass(spark, new Random(0))
          def line(op: Op): String = {
            val (rows, hash) = op.run(Tracer.Off)
            s"${op.name}\t$rows\t$hash"
          }
          val runs = ops.filter(_.name.startsWith("run:")).map(line)
          val wh = new Warehouse(work.resolve("warehouse"))
          val reads = wh.tableNames.map(t => dumpOne(s"read:$t", wh.table(spark, t), out))
          runs ++ reads ++ ops.filter(_.name == "vacuum").map(line)
        case _ =>
          names.map(n => dumpOne(n, SparkEntry.queries(n)(spark, dataDir), out))
      }
      Files.write(out.resolve("observed.tsv"), lines.asJava)
      val oracles = SparkEntry.oracleSql
      Files.writeString(out.resolve("oracle_sql.json"),
        Json.obj(oracles.toSeq.map { case (n, q) => n -> Json.str(q) }: _*))
      spark.stop()

    case _ =>
      System.err.println("usage: Harness run|dump ... (see the scaladoc)")
      sys.exit(2)
  }

  private def dumpOne(name: String, df: DataFrame, out: Path): String = {
    val (rows, hash) = Canon.rowsAndHash(df)
    df.coalesce(1).write.mode("overwrite").parquet(out.resolve(name.replace(':', '_')).toString)
    s"$name\t$rows\t$hash"
  }

  private def pass(p: PassRecord): String = Json.obj(
    "traced" -> p.traced.toString,
    "wall_s" -> Json.num(p.wall),
    "cpu_s" -> Json.num(p.cpu),
    "canary_before_s" -> Json.num(p.canary0),
    "canary_after_s" -> Json.num(p.canary1),
    "loadavg" -> Json.num(p.load),
    "ops" -> Json.arr(p.ops.map(o => Json.obj(
      "name" -> Json.str(o.name), "s" -> Json.num(o.s),
      "rows" -> Json.num(o.rows.toDouble), "hash" -> Json.str(o.hash),
      "error" -> Json.str(o.error)))),
    "spans" -> Json.arr(p.spans.map(s => Json.arr(Seq(
      Json.num(s.id), Json.num(s.parent), Json.str(s.name),
      Json.num((s.t0 - p.start).toDouble), Json.num((s.t1 - p.start).toDouble))))),
    "counts" -> Json.obj(p.counts.toSeq.map { case (k, v) => k -> Json.num(v) }: _*))
}

/** Just enough JSON writing for the raw result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(i: Int): String = i.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
