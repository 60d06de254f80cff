package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options shared by every mode of the harness. */
final case class Opts(mode: String, workload: String, seed: Long,
    seconds: Double, trace: Boolean, data: String, checkData: String,
    templates: String, work: String, out: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(
      mode = m.getOrElse("mode", "run"),
      workload = m.getOrElse("workload", ""),
      seed = m.getOrElse("seed", "1").toLong,
      seconds = m.getOrElse("seconds", "10").toDouble,
      trace = m.getOrElse("trace", "0") == "1",
      data = need("data"),
      checkData = m.getOrElse("check-data", ""),
      templates = need("templates"),
      work = need("work"),
      out = need("out"))
  }
}

/** One Spark session per process: `local[nproc]`, the engine's own
  * session configuration, and every directory Spark writes under the
  * run's work dir. */
object Session {
  def cpus: Int = Runtime.getRuntime.availableProcessors

  def start(work: String): SparkSession = {
    val b = graft.GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("perfbench"), cpus)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.store.root", s"$work/stores")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val s = graft.GraftSession.requireSqlSurface(b.getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** A named metric value with its unit. */
final case class Metric(name: String, value: Double, unit: String)

object Stats {
  /** Linear-interpolated quantile of `xs` (q in [0, 1]). Failed
    * operations enter as +Infinity, so they count as exceeding every
    * latency limit. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (s(hi).isInfinite) s(hi)
    else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Loop {
  /** Run `pass` once, then again while another pass, as long as the
    * median one so far, would still end within `seconds` of the start. */
  def passes[P](seconds: Double)(pass: => P): Seq[P] = {
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer.empty[P]
    val took = scala.collection.mutable.ArrayBuffer.empty[Double]
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (out.isEmpty || elapsed + Stats.median(took.toSeq) <= seconds) {
      val p0 = elapsed
      out += pass
      took += elapsed - p0
    }
    out.toSeq
  }
}

object Progress {
  private val start = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** A timestamped progress line on stderr (seconds since JVM start). */
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.currentTimeMillis() - start) / 1000.0}%.1fs $msg")
}

object Jvm {
  def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Used heap after explicit GCs plus Spark's cached-block bytes, MB.
    * Objects that die only once their cleaners ran (Spark's
    * ContextCleaner frees broadcast blocks asynchronously) survive the
    * first collections, so take the least of a few. */
  def retainedHeapMb(s: SparkSession): Double = {
    val rt = Runtime.getRuntime
    val heap = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      rt.totalMemory - rt.freeMemory
    }.min
    val cached = s.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    (heap + cached) / (1024.0 * 1024.0)
  }

  def millisSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

object Dirs {
  def copy(src: String, dst: String): Unit = {
    val s = Paths.get(src)
    val d = Paths.get(dst)
    val it = Files.walk(s)
    try it.iterator.asScala.foreach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally it.close()
  }

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val it = Files.walk(p)
      try it.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally it.close()
    }
  }

  private def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val it = Files.walk(p)
      try it.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally it.close()
    }
  }

  /** Bytes of the data files under `dir` (checksum sidecars excluded). */
  def bytes(dir: String): Long =
    files(dir).filterNot(_.getFileName.toString.endsWith(".crc")).map(Files.size).sum

  /** Parquet data files under `dir`. */
  def parquetFiles(dir: String): Int =
    files(dir).count(_.getFileName.toString.endsWith(".parquet"))
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN) "null"
    else if (d.isInfinite) (if (d > 0) "1e300" else "-1e300")
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")

  def metrics(ms: Seq[Metric]): String =
    obj(ms.map(m => m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))))
}
