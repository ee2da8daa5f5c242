package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark JVM. `perfbench/run.py` launches one JVM per
  * role and aggregates the JSON result each one writes to `--out`:
  *
  *  - `stream`      workload incremental_stream: cold bootstrap dump of the
  *                  base snapshot + publish, then one incremental batch
  *                  + publish
  *  - `query`       the 16 headline query leaves (workload query_leaves)
  *  - `fingerprint` oracle fingerprints for the query leaves (maintenance)
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args(argv)
    val result: Map[String, Any] = a("role") match {
      case "stream"      => Workloads.stream(a)
      case "query"       => Workloads.query(a)
      case "fingerprint" => Workloads.fingerprint(a)
      case other         => sys.error(s"unknown role $other")
    }
    Json.write(Paths.get(a("out")), result)
    SparkSession.getDefaultSession.foreach(_.stop())
    sys.exit(0)
  }
}

/** `--key value` arguments. */
final case class Args(kv: Map[String, String]) {
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
  def get(k: String): Option[String] = kv.get(k)
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def flag(k: String): Boolean = kv.get(k).contains("1")
}

object Args {
  def apply(argv: Array[String]): Args =
    Args(argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
}

object Sys {
  def nowMs: Double = System.currentTimeMillis().toDouble

  /** Peak resident set of this process (VmHWM), MiB. */
  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def files(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.filter(Files.isRegularFile(_)).toVector }
      finally s.close()
    }
  }

  def bytes(root: String): Long = files(root).map(Files.size).sum

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.foreach { p =>
        val d = Paths.get(to).resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(d)
        else Files.copy(p, d, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.COPY_ATTRIBUTES)
      }
    } finally s.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** JSON for the result files and the span file. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)

  def write(path: Path, v: Any): Unit =
    Files.write(path, (render(v) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
