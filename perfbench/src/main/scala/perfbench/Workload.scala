package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One operation of a workload. `run` is timed; `check` compares its result
  * with the benchmark's own model, untimed, and throws on a mismatch.
  * `cls` is read, write or other; `layer` names the entry point it calls.
  */
final case class Op(kind: String, cls: String, layer: String,
    run: () => Any, check: Any => Unit = _ => ())

/** A workload is a set-up and an endless sequence of fixed-mix cycles; the
  * seed orders and parameterizes the operations inside each cycle, and the
  * loop only stops between cycles, so every run measures the same mix.
  */
trait Workload {
  /** Generates the inputs and builds the tables. */
  def build(): Unit
  /** Work done once after the builds, before timing: warm-up passes. */
  def warmUp(): Unit
  /** Lazy: each operation's inputs may depend on the state the previous
    * one left.
    */
  def cycle(i: Int): Iterator[Op]
  /** Untimed measurements the traced run makes between operations. */
  def probe(op: Op): Unit = ()
  /** Metrics of the final state: space, layer counts, input sizes. */
  def finish(): Map[String, Double]
  /** Input sizes, for the record. */
  def inputs: Map[String, Long]
  /** Nominal length of one cycle, checks included, on a 4-core box: a run
    * of `--seconds s` measures `round(s / cycleSeconds)` cycles, at least
    * one.
    */
  def cycleSeconds: Double
  /** The write kind that merges rows into existing keys; its median is
    * `upsert_p50_ms`.
    */
  def upsertKind: String

  var untimedAttempted = 0
  var untimedFailed = 0

  /** Runs an operation of the set-up or warm-up; a failure counts like one
    * in the timed loop.
    */
  def untimed(op: Op): Unit = {
    untimedAttempted += 1
    scala.util.Try(op.check(op.run())).failed.foreach { e =>
      untimedFailed += 1
      System.err.println(s"[perfbench] untimed ${op.kind} FAILED: $e")
    }
  }
}

object Files2 {
  def wipe(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  def bytes(p: Path): Long = files(p).map(Files.size).sum

  /** The parquet/CSV part files Spark wrote under a directory. */
  def parts(p: Path, ext: String): Seq[Path] =
    files(p).filter(f => f.getFileName.toString.startsWith("part-") &&
      f.getFileName.toString.endsWith(ext))

  /** Fields of an RFC 4180 CSV with doubled-quote escapes. */
  def parseCsv(text: String): Seq[Seq[String]] = {
    val rows = mutable.ArrayBuffer.empty[Seq[String]]
    var row = mutable.ArrayBuffer.empty[String]
    val f = new StringBuilder
    var i = 0
    var inQ = false
    var any = false
    while (i < text.length) {
      val c = text.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < text.length && text.charAt(i + 1) == '"') { f += '"'; i += 1 }
          else inQ = false
        } else f += c
      } else c match {
        case '"' => inQ = true; any = true
        case ',' => row += f.toString; f.clear(); any = true
        case '\n' =>
          if (any || f.nonEmpty) { row += f.toString; rows += row.toSeq }
          row = mutable.ArrayBuffer.empty; f.clear(); any = false
        case '\r' =>
        case _ => f += c; any = true
      }
      i += 1
    }
    if (any || f.nonEmpty) { row += f.toString; rows += row.toSeq }
    rows.toSeq
  }
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)
}
