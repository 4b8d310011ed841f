package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** One benchmark run of one workload in one JVM.
  *
  * Sets the engine session up five times (the first from process
  * start), then runs one cold pass and at least two warm passes, more
  * while `--seconds` have not gone by, over the selected
  * `SparkEntry.queries`. Each query is timed, in wall time and in the
  * JVM's CPU time, from frame build through a `collect()` that
  * materializes every row and column. The cold pass's outputs are
  * written as parquet for the oracle check that follows outside the
  * JVM; every warm output must equal the cold one. With `--trace 1`
  * the listeners in [[Trace]] split each pass by layer. Everything is
  * written to `<work>/result.json`.
  *
  * Arguments: --data DIR --work DIR --queries A,B,... --seconds S
  * --trace 0|1 --launched-ms EPOCH_MS
  */
object Main {
  val Cores = 4
  val Setups = 5

  /** The session confs of `graft.Bench`, pinned to 4 cores, with every
    * scratch location inside the run's work directory. */
  def session(work: String): SparkSession = SparkSession.builder()
    .master(s"local[$Cores]")
    .config("spark.sql.shuffle.partitions", Cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    .config("spark.graft.spread", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.cleaner.periodicGC.interval", "2min")
    .config("spark.executor.heartbeatInterval", "60s")
    .config("spark.network.timeout", "600s")
    .config("spark.sql.codegen.cache.maxEntries", "4000")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  /** One execution of one query: its wall time, the CPU time of the
    * whole JVM over it, the digest of its sorted output rows, or the
    * error it threw. */
  final case class Exec(seconds: Double, cpu: Double, digest: String, error: String)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val (data, work) = (opt("data"), opt("work"))
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"

    // Set-up, five times: the first from process start, the others
    // from a stopped context in the same JVM. Each gives its wall time
    // and the JVM's CPU time.
    var spark: SparkSession = null
    val setups = (0 until Setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = if (i == 0) opt("launched-ms").toLong else System.currentTimeMillis()
      val c0 = if (i == 0) 0.0 else cpuSeconds
      spark = session(work)
      spark.sparkContext.setLogLevel("WARN")
      spark.range(0, 1000, 1, Cores).selectExpr("sum(id)").collect()
      ((System.currentTimeMillis() - t0) / 1e3, cpuSeconds - c0)
    }

    val oracle = SparkEntry.oracleSql
    val queries = SparkEntry.queries
    val names = opt("queries").split(",").toSeq
    names.foreach(n => require(queries.contains(n) && oracle.contains(n),
      s"$n is not a SparkEntry query with oracle SQL"))
    val trace = if (traced) Some(new Trace(spark, Cores)) else None

    /** Runs one query; the rows and schema come back for the dump. */
    def runOne(name: String): (Exec, Array[Row], StructType) = {
      val c0 = cpuSeconds
      val t0 = System.nanoTime()
      try {
        val (df, rows) = trace match {
          case Some(t) => t.query(queries(name), data)
          case None =>
            val df = queries(name)(spark, data)
            (df, df.collect())
        }
        val s = (System.nanoTime() - t0) / 1e9
        (Exec(s, cpuSeconds - c0, digest(rows), null), rows, df.schema)
      } catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}".linesIterator.next()
        System.err.println(s"[perfbench] $name failed: $msg")
        (Exec((System.nanoTime() - t0) / 1e9, cpuSeconds - c0, null, msg), null, null)
      }
    }

    def report(label: String, pass: Map[String, Exec]): Unit =
      System.err.println(s"[perfbench] $label " +
        names.map(n => f"$n=${pass(n).seconds}%.2f/${pass(n).cpu}%.2f").mkString(" "))

    val coldRun = names.map(n => n -> runOne(n)).toMap
    val cold = coldRun.map { case (n, (e, _, _)) => n -> e }
    System.err.println("[perfbench] wall s/CPU s of each set-up and query")
    System.err.println("[perfbench] setup " +
      setups.map { case (s, c) => f"$s%.2f/$c%.2f" }.mkString(" "))
    report("cold", cold)
    trace.foreach(_.reset())
    // At least two warm passes: the first still runs while the JIT
    // compiles the engine's hot paths, 20-30% slower than later ones.
    val warm = ArrayBuffer.empty[Map[String, Exec]]
    val tw = System.nanoTime()
    while (warm.size < 2 || (System.nanoTime() - tw) / 1e9 < seconds)
      warm += names.map(n => n -> runOne(n)._1).toMap
    warm.foreach(report("warm", _))
    val layers = trace.map(_.finish(warm.size, warm.map(_.values.map(_.seconds).sum).sum,
      warm.map(_.values.map(_.cpu).sum).sum, data))

    // cold outputs go to parquet for the oracle check, after all timing
    coldRun.foreach { case (n, (e, rows, schema)) =>
      if (e.error == null)
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$work/out/$n")
    }
    spark.stop()

    import Json._
    val execs = (Seq(cold) ++ warm).zipWithIndex
    def times(p: Map[String, Exec], f: Exec => Double) = obj(names.map(n => n -> num(f(p(n)))): _*)
    val json = obj(
      "setup" -> arr(setups.map(_._1).map(num)),
      "setup_cpu" -> arr(setups.map(_._2).map(num)),
      "queries" -> arr(names.map(str)),
      "oracle_sql" -> obj(names.map(n => n -> str(oracle(n))): _*),
      // per query, in seconds: wall time and the JVM's CPU time
      "cold" -> times(cold, _.seconds),
      "warm" -> arr(warm.map(times(_, _.seconds))),
      "cold_cpu" -> times(cold, _.cpu),
      "warm_cpu" -> arr(warm.map(times(_, _.cpu))),
      // one entry per execution: null when it ran and matched the cold
      // pass, else why it failed
      "executions" -> obj(names.map { n =>
        n -> arr(execs.map { case (p, i) =>
          val e = p(n)
          if (e.error != null) str(e.error)
          else if (i > 0 && e.digest != cold(n).digest) str("output differs from the cold pass")
          else "null"
        })
      }: _*),
      "layers" -> obj(layers.getOrElse(Nil).map { case (k, v) => k -> num(v) }: _*))
    Files.write(Paths.get(s"$work/result.json"), json.getBytes(UTF_8))
  }
}

/** Just enough JSON writing for result.json. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
