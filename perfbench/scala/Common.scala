package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Common {
  /** Every conf the benchmark depends on, passed explicitly. */
  def session(cores: Int, root: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$root/ckpt-default")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.driver.host", "localhost")
      .getOrCreate()

  def nowMs: Double = System.nanoTime() / 1e6

  /** A progress line on stderr, stamped with the seconds since launch. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench $sinceLaunchS%6.1f s] $msg")

  /** Wall seconds since JVM launch. */
  def sinceLaunchS: Double =
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU (user + sys) in seconds. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** The JVM's resident-set high-water mark (VmHWM) in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** A value rendered so that a last-bit difference in double arithmetic
    * (accumulation order) does not change the hash: doubles keep 10
    * significant digits; nested types go through JSON. */
  private def stable(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      format_string("%.9e", c.cast("double"))
    case _: ArrayType | _: StructType | _: MapType => to_json(c)
    case _ => c.cast("string")
  }

  /** Aggregates whose values make the fingerprint: the row count and two
    * order-insensitive sums over a 64-bit hash of every column. */
  private def fingerprintAggs(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.sortBy(_.name).toSeq
      .map(f => stable(col(s"`${f.name}`"), f.dataType))
    val h = xxhash64((lit("fp") +: cols): _*)
    Seq(count(lit(1)).as("n"), sum(h.bitwiseAND(0xffffffffL)).as("lo"),
      sum(shiftrightunsigned(h, 32)).as("hi"))
  }

  private def render(n: Long, lo: Long, hi: Long): String =
    f"$n%d:${(lo + 31 * hi) & 0xffffffffffffL}%012x"

  /** Row count plus an order-insensitive hash of all columns. */
  def fingerprint(df: DataFrame): String = {
    val r = df.agg(fingerprintAggs(df).head, fingerprintAggs(df).tail: _*).head()
    render(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Writes `df` to the noop sink and returns its [[fingerprint]], taken
    * on the way through with `Dataset.observe` (one execution). */
  def writeNoopFingerprint(df: DataFrame): String = {
    val obs = Observation("fp")
    val aggs = fingerprintAggs(df)
    df.observe(obs, aggs.head, aggs.tail: _*)
      .write.format("noop").mode("overwrite").save()
    val r = obs.get.map {
      case (k, null) => k -> 0L; case (k, v) => k -> v.asInstanceOf[Number].longValue()
    }
    render(r("n"), r("lo"), r("hi"))
  }

  def dirBytes(f: File): (Long, Long) =
    if (f.isDirectory)
      Option(f.listFiles).toSeq.flatten.map(dirBytes)
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.isFile) (f.length, 1L) else (0L, 0L)

  /** Minimal JSON rendering for the result line. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case o => json(o.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
