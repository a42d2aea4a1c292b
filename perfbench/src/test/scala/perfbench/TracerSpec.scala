package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {

  test("a job is attributed to the first engine module frame of its call site") {
    val site =
      """org.apache.spark.sql.Dataset.collect(Dataset.scala:3512)
        |graft.Tables$.load(Tables.scala:88)
        |graft.ext.Dedup$.minhash(Dedup.scala:120)
        |graft.SparkEntry$.$anonfun$queries$12(SparkEntry.scala:400)
        |perfbench.QuerySuite.pass(Workloads.scala:90)""".stripMargin
    assert(Tracer.site(site) == "ext")
  }

  test("query-function code, benchmark code and unknown frames") {
    assert(Tracer.site("x.y(Z.scala:1)\ngraft.SparkEntry$.f(SparkEntry.scala:9)") == "SparkEntry")
    assert(Tracer.site("org.apache.spark.sql.DataFrameWriter.save(X.scala:1)\n" +
      "perfbench.QuerySuite.pass(Workloads.scala:1)") == "bench")
    assert(Tracer.site("graft.meta.MetaStore.commitVersion(MetaStore.scala:300)") == "meta")
    assert(Tracer.site("graft.sync.SyncEngine.sync(SyncEngine.scala:140)") == "sync")
    assert(Tracer.site("graft.Caching$.pin(Caching.scala:1)") == "other")
    assert(Tracer.site("") == "other")
  }
}
