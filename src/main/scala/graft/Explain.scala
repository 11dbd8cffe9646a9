// plan-inspection main: `sbt "runMain graft.Explain q_name ..."` prints
// the formatted physical plan of any contract query at sf0.01
package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.cpus)
    val dir = "/root/testdata/sf0.01"
    args.foreach { q =>
      println(s"===== $q =====")
      SparkEntry.queries(q)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
