package perfbench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

/** Wall clock in epoch ms with sub-ms resolution, comparable with the
  * ms timestamps Spark's listeners report. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** The highest of a fixed ladder of percentiles that leaves at least
    * ten samples above it; the median when there are too few samples
    * for any of them. Returns (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.length
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0)
      .find(p => n - math.ceil(n * p / 100.0) >= 10).getOrElse(50.0)
    (p, percentile(xs, p))
  }
}

/** Order-insensitive digests of a result: row count plus two 64-bit
  * sums of per-row hashes over every column. Equal multisets of rows
  * give equal digests, whatever the order they arrive in. */
object Digest {
  final case class D(rows: Long, h1: Long, h2: Long) {
    override def toString: String = f"$rows:$h1%016x:$h2%016x"
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: java.lang.Double =>
      if (d.isNaN) "NaN" else java.lang.Double.toString(d.doubleValue + 0.0)
    case f: java.lang.Float => canon(java.lang.Double.valueOf(f.doubleValue))
    case n: java.lang.Number if !n.isInstanceOf[java.math.BigDecimal] => n.longValue.toString
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => "t" + t.toInstant.toString
    case t: java.time.Instant => "t" + t.toString
    case t: java.time.LocalDateTime => "t" + t.toInstant(java.time.ZoneOffset.UTC).toString
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case a: Array[Byte] => a.map("%02x".format(_)).mkString("b", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Iterable[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def ofRows(rows: Iterable[Row]): D = {
    var n, a, b = 0L
    rows.foreach { r =>
      val s = canon(r)
      a += scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong * 0x9E3779B97F4A7C15L
      b += scala.util.hashing.MurmurHash3.stringHash(s, 91).toLong + (s.length.toLong << 32)
      n += 1
    }
    D(n, a, b)
  }

  /** Digest computed by the executors over the result's internal rows:
    * the query's physical plan runs unchanged (as under a noop sink)
    * and only one small tuple per partition reaches the driver. */
  def ofFrame(df: DataFrame): D = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench.digest")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n, a, b = 0L
        it.foreach { r =>
          val u = proj(r)
          a += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          b += u.hashCode.toLong * 0x9E3779B97F4A7C15L + u.getSizeInBytes
          n += 1
        }
        Iterator((n, a, b))
      }.collect()
    }
    D(parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum)
  }
}

/** The untimed first execution of each checked query: its rows are the
  * reference every timed execution must reproduce (by digest), and they
  * are written out for the DuckDB oracle check when the query has one.
  */
final class References(spark: SparkSession, data: String, runDir: String) {
  val digests = scala.collection.concurrent.TrieMap.empty[String, Digest.D]
  val oracles = scala.collection.concurrent.TrieMap.empty[String, Map[String, String]]

  def build(q: String): DataFrame = graft.SparkEntry.queries(q)(spark, data)

  /** Run `q` once, keep its reference digest (of the collected rows, or
    * of the same rows as a frame when the timed executions digest on
    * the executors) and return the rows. */
  def collect(q: String, onExecutors: Boolean = false): Array[Row] = {
    val df = build(q)
    val rows = df.collect()
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    digests(q) = if (onExecutors) Digest.ofFrame(local) else Digest.ofRows(rows)
    graft.SparkEntry.oracleSql.get(q).foreach { sql =>
      val dir = s"$runDir/oracle/$q"
      local.write.parquet(dir)
      oracles(q) = Map("dir" -> dir, "sql" -> sql)
    }
    rows
  }

  /** Run `q` once into parquet, for an output too large to collect: the
    * reference digest is taken over the written rows, and the oracle
    * check compares them with the oracle inside DuckDB. */
  def written(q: String): Unit = {
    val dir = s"$runDir/oracle/$q"
    build(q).write.parquet(dir)
    digests(q) = Digest.ofFrame(spark.read.parquet(dir))
    graft.SparkEntry.oracleSql.get(q).foreach { sql =>
      oracles(q) = Map("dir" -> dir, "sql" -> sql, "compare" -> "duckdb")
    }
  }
}

/** Untimed warm-up work, three tasks at a time. */
object Warmup {
  def inParallel[T](names: Seq[String])(f: String => T): Map[String, T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val futures = names.map(n => n -> pool.submit(() => f(n)))
      futures.map { case (n, fu) => n -> fu.get() }.toMap
    } finally pool.shutdown()
  }
}

/** Runs and records a workload's timed operations, one at a time. With
  * a tracer, each kind of operation is traced on its 2nd and 3rd run of
  * every four, or on its 1st and 4th (alternating between kinds), so
  * warming over a run weighs on traced and untraced runs alike and the
  * untraced ones give the tracing overhead.
  */
final class Recorder(tracer: Option[Trace]) {
  val ops = mutable.ArrayBuffer.empty[Op]
  private var nextId = 0
  private var measuring = false
  private val runs = mutable.Map.empty[String, Int]
  private val kinds = mutable.Map.empty[String, Int]

  /** Operations before this call (the set-up's) are never traced. */
  def startMeasuring(): Unit = measuring = true

  private def traceNext(kind: String): Boolean = {
    val n = runs.getOrElse(kind, 0)
    runs(kind) = n + 1
    val flip = kinds.getOrElseUpdate(kind, kinds.size) % 2 == 1
    (n % 4 == 1 || n % 4 == 2) != flip
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Time `build` and then `act` on what it built. A throw fails the
    * operation; `check` decides whether a completed result is correct.
    * Returns the op and the action's result when it completed. */
  def op[B, T](kind: String, module: String)(build: => B)(act: B => T)
              (outRows: T => Long, check: T => Boolean): (Op, Option[T]) = {
    val id = nextId; nextId += 1
    val traced = tracer.isDefined && measuring && traceNext(kind)
    tracer.foreach(t => if (traced) t.attach() else t.detach())
    val g0 = gcMs()
    val t0 = Clock.now()
    var tb = Double.NaN
    val res = Try { val b = build; tb = Clock.now(); act(b) }
    val t1 = Clock.now()
    val g1 = gcMs()
    if (tb.isNaN) tb = t1
    val (ok, rows) = res match {
      case Success(v) => (Try(check(v)).getOrElse(false), Try(outRows(v)).getOrElse(0L))
      case Failure(e) =>
        System.err.println(s"[perfbench] $kind failed: $e")
        (false, 0L)
    }
    if (res.isSuccess && !ok) System.err.println(s"[perfbench] $kind: wrong result")
    val o = Op(id, kind, module, traced, t0, tb, t1, ok, rows, g1 - g0)
    ops += o
    (o, res.toOption)
  }
}
