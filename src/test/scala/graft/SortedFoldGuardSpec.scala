package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** `operators/Folds.scala` is the one place that defines how graft sums
  * doubles bit-stably, for Spark and for the DuckDB oracle. This scan
  * fails when any other `src/main` file spells out a value-sorted sum
  * itself, so a change of definition (an exact decimal sum, say) stays an
  * edit to one file. Key-ordered folds (over struct-sorted arrays, or
  * `list(x ORDER BY k)`) are a different definition and are allowed.
  * Pure source scan; no SparkSession. */
class SortedFoldGuardSpec extends AnyFunSuite {

  private val sparkHead = """aggregate\(\s*(?:sort_array|array_sort)\(\s*collect_list\(""".r
  private val valueLambda = """\(\s*(\w+)\s*,\s*(\w+)\s*\)\s*=>\s*\1\s*\+\s*\2\s*\)$""".r.unanchored
  private val sqlFold = """list_reduce\(\s*list_sort\(\s*list\(""".r

  /** Index just past the parenthesis that closes the one opened before `from`. */
  private def closeParen(s: String, from: Int): Int = {
    var depth = 1
    var i = from
    while (depth > 0 && i < s.length) {
      s(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      i += 1
    }
    i
  }

  /** Line numbers of the value-sorted sums spelled out in `src`. */
  private def sortedSums(src: String): Seq[Int] = {
    val spark = sparkHead.findAllMatchIn(src).filter { m =>
      // the whole aggregate(...) call: value-sorted iff its merge lambda
      // adds the element itself, not a field of a struct element
      val call = src.substring(m.start, closeParen(src, m.start + "aggregate(".length))
      valueLambda.matches(call)
    }
    (spark ++ sqlFold.findAllMatchIn(src)).map(m => src.take(m.start).count(_ == '\n') + 1).toSeq
  }

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else Seq(f).filter(_.getName.endsWith(".scala"))
    }

  test("the scan sees both twins and ignores key-ordered folds") {
    assert(sortedSums(
      """aggregate(sort_array(collect_list(col("x"))), lit(0.0),
        |  (acc, v) => acc + v)""".stripMargin) == Seq(1))
    assert(sortedSums(
      "aggregate(sort_array(collect_list(col(\"w\")).over(w)), lit(0.0), (a, b) => a + b)") == Seq(1))
    assert(sortedSums("round(list_reduce(list_sort(list(x)), (p, q) -> p + q), 6)") == Seq(1))
    assert(sortedSums(
      """aggregate(array_sort(collect_list(col("u"))), lit(0.0),
        |  (a, u) => a + u.getField("q"))""".stripMargin).isEmpty)
    assert(sortedSums("list_reduce(list(x ORDER BY k), (a, b) -> a + b)").isEmpty)
  }

  test("Folds.scala is the only src/main file that defines a value-sorted sum") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    val files = scalaFiles(root)
    val folds = files.filter(_.getName == "Folds.scala")
    assert(folds.size == 1 && sortedSums(read(folds.head)).nonEmpty,
      "Folds.scala must define the sorted sum")
    val offenders = for {
      f <- files if f.getName != "Folds.scala"
      line <- sortedSums(read(f))
    } yield s"${f.getPath}:$line"
    assert(offenders.isEmpty,
      s"value-sorted sums outside Folds.scala (call Folds.sortedSum / sortedSumSql):\n" +
        offenders.mkString("\n"))
  }

  private def read(f: File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }
}
