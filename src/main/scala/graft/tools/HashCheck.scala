package graft.tools

import java.io.File

import org.apache.spark.sql.DataFrame

/**
 * Dev/driver diagnostic for the correctness gate's hash compare: given
 * two `graft.Verify` output dirs (e.g. the builder's dump and the
 * judge's), recompute each query's canonical md5 (the
 * `scripts/local_verify.py` recipe, via [[Canon]]) and, on mismatch,
 * print the FIRST DIFFERING CANONICAL ROW — turning an opaque
 * "hash_match: false" into a named row both sides can inspect.
 *
 * Usage:
 *   runMain graft.tools.HashCheck <dirA>              # print hashes
 *   runMain graft.tools.HashCheck <dirA> <dirB> [q..] # diff two dumps
 */
object HashCheck {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: HashCheck <dirA> [<dirB>] [queryName...]")
    val spark = graft.Session("4", logLevel = "ERROR")

    def queryDirs(root: String): Seq[String] =
      Option(new File(root).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("q"))
        .map(_.getName).toSeq.sorted

    def load(root: String, name: String): DataFrame =
      spark.read.parquet(s"$root/$name")

    args.toList match {
      case dirA :: Nil =>
        queryDirs(dirA).foreach { name =>
          val (cols, rows) = Canon.canonicalize(load(dirA, name))
          println(s"$name md5=${Canon.md5Hex(cols, rows)} rows=${rows.length}")
        }
      case dirA :: dirB :: names =>
        val sel =
          if (names.nonEmpty) names
          else queryDirs(dirA).intersect(queryDirs(dirB))
        var nDiff = 0
        sel.foreach { name =>
          val (ca, ra) = Canon.canonicalize(load(dirA, name))
          val (cb, rb) = Canon.canonicalize(load(dirB, name))
          val ha = Canon.md5Hex(ca, ra); val hb = Canon.md5Hex(cb, rb)
          if (ha == hb) println(s"MATCH $name md5=$ha rows=${ra.length}")
          else {
            nDiff += 1
            println(s"DIFF  $name md5 $ha vs $hb")
            if (ca != cb) println(s"  cols: ${ca.mkString(",")}\n   vs : ${cb.mkString(",")}")
            else {
              val n = math.min(ra.length, rb.length)
              val i = (0 until n).find(i =>
                  Canon.serializeRow(ra(i)) != Canon.serializeRow(rb(i)))
                .getOrElse(n)
              if (i < n) {
                println(s"  first diff at sorted row $i of ${ra.length}/${rb.length}:")
                println(s"    a: ${ra(i).mkString(" | ")}")
                println(s"    b: ${rb(i).mkString(" | ")}")
              } else println(s"  row counts differ: ${ra.length} vs ${rb.length}")
            }
          }
        }
        println(s"== ${sel.size - nDiff} match, $nDiff diff ==")
      case _ => ()
    }
    spark.stop()
  }
}
