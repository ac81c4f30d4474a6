package graft.operators

import graft.SparkSpec

/** REBALANCE compaction: the file count must actually collapse and the
  * data must survive byte-for-byte.
  */
class CompactionSpec extends SparkSpec {

  test("compact collapses a fragmented table without changing its rows") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select("event_id", "user_id", "value")
    val tmp = System.getProperty("java.io.tmpdir")
    val frag = s"$tmp/graft_spec_frag"
    val out = s"$tmp/graft_spec_compacted"
    ev.repartition(50).write.mode("overwrite").parquet(frag)

    val (before, after) = Layout.compact(spark, frag, out, "64MB")
    assert(before == 50, s"fragment write produced $before files")
    assert(after < before / 4,
      s"compaction left $after files from $before")

    val got = spark.read.parquet(out)
    assert(got.count() == ev.count())
    assert(got.exceptAll(ev).isEmpty && ev.exceptAll(got).isEmpty)
  }
}
