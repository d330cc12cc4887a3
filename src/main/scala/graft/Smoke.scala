package graft

/** Driver t1 smoke stand-in: runs SparkEntry.entry and prints the row
  * count (driver requires rows > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cpus)
    val n = SparkEntry.entry(spark).count()
    println(s"entry rows=$n")
    spark.stop()
  }
}
