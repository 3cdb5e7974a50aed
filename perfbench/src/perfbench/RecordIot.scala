package perfbench

import java.io.File
import scala.collection.immutable.ListMap

/** Prints the gen_iot output checksums of a range of seeds as the JSON that
  * `perfbench/expected/iot_checksums.json` holds. A gen_iot run compares its
  * checksum with the recorded one for its seed, so a change to the
  * generated values fails the run. Re-record only when the generated data
  * is meant to change.
  *
  * Usage: `perfbench.RecordIot <first seed> <last seed> <work dir>` */
object RecordIot {
  def main(args: Array[String]): Unit = {
    val Array(first, last, work) = args
    val spark = Main.session(new File(work))
    spark.sparkContext.setLogLevel("ERROR")
    val cores = spark.sparkContext.defaultParallelism
    val sums = (first.toLong to last.toLong).map { s =>
      s.toString -> GenIot.checksum(spark, GenIot.plan(s, cores))._2.toString
    }
    println(Json(ListMap("rows" -> GenIot.Rows, "checksums" -> ListMap(sums: _*))))
    spark.stop()
  }
}
