package graft

/** Prints formatted physical plans for the headline queries so scan
  * pruning (ReadSchema/PushedFilters), join strategies (broadcast vs
  * shuffle), and WholeStageCodegen spans can be audited.
  * `sbt "runMain graft.PlanAudit [sfDir] [query...]"`.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val wanted =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
        "a6_merge_ids", "d_minhash_lsh", "e_ann_lsh")
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    wanted.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
