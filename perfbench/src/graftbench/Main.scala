package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark harness for graft. It builds one `local[4]` session, calls
  * graft's public functions from a single client thread, and times them
  * from outside.
  *
  * Modes:
  *   gen         --data DIR --sf X --data-seed N        write the input tables
  *   run         --workload W --seed N --seconds S --trace 0|1 --data DIR
  *               --work DIR --results DIR --fingerprints FILE [--plant KEY]
  *   fingerprint --data DIR --work DIR --out DIR        dump every checked answer
  *
  * `run` prints one JSON object as the last line of standard output and
  * writes the full artifact (host facts, samples, per-op trace) under
  * `--results`.
  */
object Main {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def parse(a: Array[String]): (String, Args) = {
    val kv = a.drop(1).grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument ${other.mkString(" ")}")
    }.toMap
    (a.headOption.getOrElse("run"), Args(kv))
  }

  def session(work: String, shufflePartitions: Option[Int] = None): SparkSession =
    GraftSession.builder("graftbench", Some("local[4]"), shufflePartitions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.driver.host", "localhost")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val (mode, a) = parse(argv)
    val code = try {
      mode match {
        case "gen" =>
          val s = session(a("work"))
          Gen.write(s, a("data"), a("sf").toDouble, a("data-seed").toLong)
          0
        case "fingerprint" => Bench.fingerprint(a); 0
        case "run" =>
          Bench.run(a, java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
        case other => sys.error(s"unknown mode $other")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        2
    }
    SparkSession.getActiveSession.foreach(_.stop())
    System.out.flush()
    sys.exit(code)
  }
}

/** Tiny JSON writer for the result line and the artifact. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => apply(other.toString)
  }

  /** Reads the committed fingerprint file: {"ops": {key: {"rows": n, "hash": h}}}. */
  def fingerprints(path: String): Map[String, Fingerprint] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val ops = om.readTree(new java.io.File(path)).get("ops")
    val out = mutable.Map.empty[String, Fingerprint]
    ops.fieldNames().forEachRemaining { k =>
      val n = ops.get(k)
      out(k) = Fingerprint(n.get("rows").asLong(), n.get("hash").asText())
    }
    out.toMap
  }
}
