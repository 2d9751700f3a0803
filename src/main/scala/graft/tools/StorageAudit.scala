package graft.tools

/** Ad-hoc storage audit (not part of the driver contract): run every
  * SparkEntry query once at the given sf, then dump the block-manager
  * residents by size — before and after a GC+cleaner drain — to tell
  * INTENTIONAL session memos apart from per-query staging that nothing
  * will ever read again (VERDICT-r13 task 5: post-suite storage grew
  * 76 → 612 MB in r13). */
object StorageAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    val passes = args.lift(1).map(_.toInt).getOrElse(1)
    def dump(tag: String): Unit = {
      val st = spark.sparkContext.getRDDStorageInfo.sortBy(-_.memSize)
      println(s"== $tag: ${st.length} cached RDDs, " +
        s"${st.map(_.memSize).sum / 1048576} MB mem, " +
        s"${st.map(_.diskSize).sum / 1048576} MB disk ==")
      // rdd.toString carries the creation call site (the graft frame —
      // GenSnap lives under org.apache.spark so Spark's callsite walker
      // skips it), which names WHICH memo a resident belongs to
      val live = spark.sparkContext.getPersistentRDDs
      st.take(15).foreach { i =>
        val site = live.get(i.id).map(_.toString.take(110))
          .getOrElse(i.name.take(80))
        println(f"${i.memSize / 1048576.0}%9.1f MB  id=${i.id}%-6d $site")
      }
    }
    val qs = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    for (p <- 1 to passes) {
      graft.Bench.runPass(spark, sfDir, qs)
      dump(s"post-pass-$p")
    }
    // localCheckpoint RDDs unpersist via the ContextCleaner once their
    // last reference is GC'd — force that path to see the steady state
    System.gc(); Thread.sleep(5000); System.gc(); Thread.sleep(5000)
    dump("post-gc")
    spark.stop()
  }
}
