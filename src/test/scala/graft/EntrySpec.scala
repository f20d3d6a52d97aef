package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver's smoke check: entry() on sf0.001 must return rows. */
class EntrySpec extends AnyFunSuite {
  test("entry flagship query returns rows on sf0.001") {
    val df = SparkEntry.entry(TestSpark.spark)
    assert(df.count() > 0)
    assert(df.columns.toSeq ==
      Seq("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price", "count_order"))
  }

  test("queries self-configure a driver-like session (nanos, ANSI, timezone)") {
    // simulate a driver-created session that lacks our parity configs
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    s.conf.set("spark.sql.ansi.enabled", "true")
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
    // events scan would throw Illegal Parquet type without the per-call
    // prepare(); date formatting would shift without UTC. The corpus has
    // shipped as TIMESTAMP(NANOS) (rounds 1-6) and MICROS-NTZ (round 7+);
    // whichever encoding is current, Tables.events must normalize it —
    // TimestampEncodingSpec pins all four shapes. The probe runs on the
    // properly configured shared session (a NANOS corpus needs nanosAsLong
    // to scan at all; this session is deliberately misconfigured).
    val ts = graft.core.Tables.events(TestSpark.spark, "/root/testdata/sf0.001")
      .schema("ts").dataType
    assert(ts == org.apache.spark.sql.types.TimestampType,
      s"corpus events.ts reached queries as $ts — parquet encoding changed " +
      "again; extend Tables.fixNanos (see TimestampEncodingSpec)")
    val df = SparkEntry.queries("f2_f3_time_buckets")(s, "/root/testdata/sf0.001")
    val row = df.filter(org.apache.spark.sql.functions.col("event_id") === 0).collect().head
    assert(row.getAs[String]("d") == "2024-01-01") // UTC date, not EST
    assert(df.count() > 0)
    // the query ran under the whole engine conf set, not just the parity trio
    graft.core.GraftSession.sqlConfs.foreach { case (k, v) =>
      assert(s.conf.get(k) == v, s"$k after a catalog query")
    }
  }

  test("every catalog query name is unique and every oracle key has a query") {
    val names = graft.queries.Catalog.all.map(_.name)
    assert(names.distinct.size == names.size, "duplicate query names")
    // every catalog entry carries DuckDB oracle SQL: no rows-only query
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.queries.size == names.size)
  }
}
