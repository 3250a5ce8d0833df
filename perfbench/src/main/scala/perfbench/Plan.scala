package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One operation of a run. `args` are the tab-separated fields after the
  * kind; `pass` groups the timed operations so that a run always ends
  * on a whole pass, and numbers the set-up repetition of a set-up
  * operation (-1 for the warm passes after the set-up). */
case class Op(kind: String, args: IndexedSeq[String], pass: Int) {
  def arg(i: Int): String = args(i)
  def ids(i: Int): Seq[Long] =
    if (args(i).isEmpty) Nil else args(i).split(',').toSeq.map(_.toLong)
}

/** The run plan written by `run.py`: `conf` lines, then the set-up
  * (`warm`) and timed (`op`) operations, one per line:
  * {{{
  * conf <key> <value>
  * warm <rep> <kind> <args…>
  * op <pass> <kind> <args…>
  * }}}
  */
case class Plan(conf: Map[String, String], warm: IndexedSeq[Op],
                timed: IndexedSeq[Op]) {
  def str(k: String): String =
    conf.getOrElse(k, throw new IllegalArgumentException(s"plan lacks conf '$k'"))
  def int(k: String): Int = str(k).toInt
  def dbl(k: String): Double = str(k).toDouble
}

object Plan {
  def read(path: String): Plan = {
    val conf = Map.newBuilder[String, String]
    val warm = IndexedSeq.newBuilder[Op]
    val timed = IndexedSeq.newBuilder[Op]
    Files.readAllLines(Paths.get(path), UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .foreach { line =>
        val f = line.split("\t", -1).toIndexedSeq
        f.head match {
          case "conf" => conf += f(1) -> f(2)
          case "warm" => warm += Op(f(2), f.drop(3), f(1).toInt)
          case "op" => timed += Op(f(2), f.drop(3), f(1).toInt)
          case other =>
            throw new IllegalArgumentException(s"bad plan line kind '$other'")
        }
      }
    Plan(conf.result(), warm.result(), timed.result())
  }
}

/** Minimal JSON writer for the driver's result records. */
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
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
