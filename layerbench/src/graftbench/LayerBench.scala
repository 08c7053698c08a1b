package graftbench

import graft.SparkEntry
import graft.operators.WordCount
import graft.sinks.FormattedTextSink
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: a closed loop of one client that calls
  * the program's public entry points one operation at a time.
  *
  * Usage: `LayerBench <run.properties>` with keys
  *   out      directory for the run record and the checked outputs
  *   data     table directory the registered rows read
  *   text     text file the `wordcount` operation reads
  *   ops      comma-separated operations, in pass order: `wordcount`
  *            (the WordCountApp body) or a `SparkEntry.queries` name
  *   seconds  how long the timed passes run
  *   setups   how many times the session is set up
  *   trace    1 to attach the layer tracer on alternate timed passes
  *   cores    local[N] and shuffle partitions
  *
  * Each setup builds a session (the first from JVM start, later ones as
  * new sessions on the same SparkContext) and runs one untimed pass. The
  * first setup's pass is the checked pass: every row's result is dumped
  * as parquet for the DuckDB oracle check and reduced to a digest, and the
  * word count's two files are hashed. Later setups warm up on exactly what
  * a timed pass runs: the noop sink (rows) or the full WordCountApp body
  * (wordcount). Timed passes then run until `seconds` have passed; traced
  * ones must reproduce the checked pass's digests. Everything lands in
  * `out/record.json`.
  */
object LayerBench {

  final case class OpResult(name: String, constructMs: Double, actionMs: Double,
      error: Option[String], digestOk: Option[Boolean], layers: Map[String, Double])

  final class Conf(p: java.util.Properties) {
    val out: Path = Paths.get(p.getProperty("out"))
    val data: String = p.getProperty("data")
    val text: String = p.getProperty("text", "")
    val ops: Seq[String] = p.getProperty("ops").split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val seconds: Double = p.getProperty("seconds").toDouble
    val setups: Int = p.getProperty("setups", "3").toInt
    val trace: Boolean = p.getProperty("trace", "0") == "1"
    val cores: Int = p.getProperty("cores", "4").toInt
  }

  private def now(): Long = System.nanoTime()
  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName("layerbench")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", c.out.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Order-sensitive digest of a result: columns by name, floating
    * point at 9 significant digits (the oracle check's rounding). */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted
    val md = MessageDigest.getInstance("MD5")
    df.select(cols.map(col).toIndexedSeq: _*).toLocalIterator().asScala.foreach { r =>
      md.update(render(r).getBytes(UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "nan" else "%.9g".format(d)
    case f: Float => if (f.isNaN) "nan" else "%.9g".format(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case x => x.toString
  }

  def fileDigest(paths: Seq[Path]): String = {
    val md = MessageDigest.getInstance("MD5")
    paths.foreach(p => md.update(Files.readAllBytes(p)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** One operation: build (the construction phase) then act. */
  sealed trait Op {
    def name: String
    def build(spark: SparkSession): DataFrame
    /** Returns the harness-timed layer figures of the action. */
    def act(built: DataFrame, checkDir: Option[Path]): Map[String, Double]
    /** Digest of what `act` produced; `checkDir` when it was a checked run. */
    def digestOf(spark: SparkSession, built: DataFrame, checkDir: Option[Path]): String
  }

  final class RowOp(val name: String, fn: (SparkSession, String) => DataFrame, data: String)
      extends Op {
    def build(spark: SparkSession): DataFrame = fn(spark, data)

    def act(built: DataFrame, checkDir: Option[Path]): Map[String, Double] = {
      checkDir match {
        case Some(d) => built.coalesce(1).write.mode("overwrite").parquet(d.resolve(name).toString)
        case None => built.write.format("noop").mode("overwrite").save()
      }
      Map.empty
    }

    def digestOf(spark: SparkSession, built: DataFrame, checkDir: Option[Path]): String =
      checkDir match {
        case Some(d) => digest(spark.read.parquet(d.resolve(name).toString))
        case None => digest(built)
      }
  }

  /** WordCountApp's body: text read, `WordCount.counts`, persist and
    * count (the reference's Map timer), then the two single-file sinks. */
  final class WordCountOp(text: String, scratch: Path) extends Op {
    val name = "wordcount"

    def build(spark: SparkSession): DataFrame =
      WordCount.counts(spark.read.text(text), col("value"))

    private def files(dir: Path) = Seq(dir.resolve("output.txt"), dir.resolve("output2.txt"))

    def act(counts: DataFrame, checkDir: Option[Path]): Map[String, Double] = {
      val Seq(alpha, freq) = files(checkDir.map(_.resolve(name)).getOrElse(scratch))
      val t0 = now()
      counts.persist()
      counts.count()
      val t1 = now()
      FormattedTextSink.writeSingleFile(counts.orderBy(col("word")),
        alpha.toString, FormattedTextSink.HeaderAlpha)
      val t2 = now()
      FormattedTextSink.writeSingleFile(counts.orderBy(col("cnt").desc, col("word").asc),
        freq.toString, FormattedTextSink.HeaderFreq)
      val t3 = now()
      counts.unpersist()
      Map("wc.map_ms" -> ms(t0, t1), "sink.alpha_ms" -> ms(t1, t2),
        "sink.freq_ms" -> ms(t2, t3),
        "sink.bytes_written" -> (Files.size(alpha) + Files.size(freq)).toDouble)
    }

    def digestOf(spark: SparkSession, built: DataFrame, checkDir: Option[Path]): String =
      fileDigest(files(checkDir.map(_.resolve(name)).getOrElse(scratch)))
  }

  private def message(e: Throwable): String =
    e.getClass.getSimpleName + ": " +
      String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")

  /** Run one operation. With a tracer, the construction and action
    * phases are bracketed and the digest is taken untimed afterwards. */
  def runOp(spark: SparkSession, op: Op, checkDir: Option[Path], tracer: Option[Tracer],
      expected: Option[String]): (OpResult, Option[String]) = {
    tracer.foreach(_.open("construct"))
    var constructMs, actionMs = 0.0
    try {
      val t0 = now()
      val built = op.build(spark)
      val t1 = now()
      tracer.foreach(_.switch("action"))
      val t2 = now()
      val timed = op.act(built, checkDir)
      val t3 = now()
      constructMs = ms(t0, t1); actionMs = ms(t2, t3)
      val traced = tracer.map(_.close(built)).getOrElse(Map.empty)
      val d =
        if (checkDir.isDefined || tracer.isDefined) Some(op.digestOf(spark, built, checkDir))
        else None
      val ok = for (e <- expected; got <- d) yield e == got
      val layers =
        if (tracer.isDefined) traced ++ timed + ("construct.ms" -> constructMs) else timed
      (OpResult(op.name, constructMs, actionMs, None, ok, layers), d)
    } catch {
      case e: Throwable =>
        tracer.foreach(_.close(null))
        (OpResult(op.name, constructMs, actionMs, Some(message(e)), None, Map.empty), None)
    }
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  private def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** This process's peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val props = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)), UTF_8)
    try props.load(in) finally in.close()
    val c = new Conf(props)
    val checkDir = c.out.resolve("check")
    val scratch = Files.createDirectories(c.out.resolve("scratch"))
    Files.createDirectories(checkDir)

    lazy val registry = SparkEntry.queries
    val ops: Seq[Op] = c.ops.map {
      case "wordcount" => new WordCountOp(c.text, scratch)
      case n => new RowOp(n, registry(n), c.data)
    }
    val oracles = SparkEntry.oracleSql
    Files.writeString(checkDir.resolve("oracle_sql.json"),
      Json(ops.collect { case r: RowOp => r.name -> oracles.get(r.name).orNull }.toMap))

    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0
    def account(pass: String, r: OpResult): Unit = {
      attempted += 1
      val why = r.error.orElse(
        r.digestOk.filter(!_).map(_ => "digest differs from the checked pass"))
      why.foreach(w => failures += Map("op" -> r.name, "pass" -> pass, "error" -> w))
    }

    // ---- setups: session build + one untimed pass each
    val expected = mutable.Map.empty[String, String]
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (k <- 0 until c.setups) {
      val t0 = if (k == 0) now() - (System.currentTimeMillis() - jvmStartMs) * 1000000L else now()
      // later setups share the SparkContext: the stored indexes register
      // their tables in the context's catalog, so a second context in the
      // same JVM would not find them
      spark = if (spark == null) session(c) else spark.newSession()
      ops.foreach { op =>
        val (r, d) = runOp(spark, op, if (k == 0) Some(checkDir) else None, None, None)
        d.foreach(expected(op.name) = _)
        account(s"setup$k", r)
      }
      setups += (now() - t0) / 1e9
    }

    // ---- timed passes
    val tracer = if (c.trace) Some(new Tracer(spark)) else None
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = now()
    var i = 0
    while ((now() - start) / 1e9 < c.seconds || passes.size < 2) {
      // untraced and traced passes alternate U T T U U T T U ..., which
      // keeps a steady drift across the run out of the overhead figure
      val traced = tracer.isDefined && (i + 1) / 2 % 2 == 1
      if (traced) tracer.get.attach()
      val gc0 = gcMs(); val cpu0 = cpuS()
      val results = ops.map { op =>
        val (r, _) = runOp(spark, op, None, if (traced) tracer else None, expected.get(op.name))
        account(s"pass$i", r)
        r
      }
      val gc1 = gcMs(); val cpu1 = cpuS()
      if (traced) tracer.get.detach()
      passes += Map(
        "traced" -> traced,
        "wall_s" -> results.map(r => r.constructMs + r.actionMs).sum / 1e3,
        "jvm.gc_ms" -> (gc1 - gc0), "process.cpu_s" -> (cpu1 - cpu0),
        "ops" -> results.map { r =>
          Map("name" -> r.name, "construct_ms" -> r.constructMs, "action_ms" -> r.actionMs,
            "error" -> r.error, "digest_ok" -> r.digestOk, "layers" -> r.layers)
        })
      i += 1
    }

    val record = Map(
      "ops" -> c.ops, "cores" -> c.cores, "trace" -> c.trace,
      "heap_mb" -> (Runtime.getRuntime.maxMemory() >> 20),
      "setups_s" -> setups.toSeq, "check_digests" -> expected.toMap,
      "attempted" -> attempted, "failures" -> failures.toSeq,
      "peak_rss_mb" -> peakRssMb(), "passes" -> passes.toSeq)
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    Files.writeString(c.out.resolve("record.json"), Json(record))
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
}
