package graft

import graft.sources.Tables

/** Fixture-drift canary: the /root/testdata parquet tables are DRIVER-owned
  * and regenerated between rounds — round 5 lost 20 queries, the whole
  * bench, and 3 tests when `events.ts` silently changed physical layout
  * (TIMESTAMP(NANOS) → TIMESTAMP(µs)) and the reader hard-coded the old
  * one. This suite forces analysis + an action through every `Tables`
  * accessor so the NEXT regeneration fails one named test in seconds
  * instead of silently deleting correctness rows. */
class FixtureCanarySpec extends SparkSpec {

  private val accessors: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame)] = Seq(
    "region"     -> Tables.region _,
    "nation"     -> Tables.nation _,
    "customer"   -> Tables.customer _,
    "supplier"   -> Tables.supplier _,
    "part"       -> Tables.part _,
    "orders"     -> Tables.orders _,
    "lineitem"   -> Tables.lineitem _,
    "events"     -> Tables.events _,
    "documents"  -> Tables.documents _,
    "embeddings" -> Tables.embeddings _
  )

  for ((name, reader) <- accessors) {
    test(s"canary: $name loads, analyzes, and has rows at sf0.001") {
      val df = reader(spark, sf())
      // analysis (schema resolution) + a real action touching every column:
      // a bare count() can succeed off footer metadata without decoding
      // values, which is exactly how a value-level drift would slip through.
      val firstRow = df.limit(1).collect()
      assert(firstRow.nonEmpty, s"$name is empty at sf0.001")
      assert(df.count() > 0)
    }
  }

  test("canary: embeddings are 64-dim — the similarity family's assumed width") {
    // pqTrainCodebooks and the centroid artifacts assume dim=64; a
    // driver-side regeneration at another width must fail HERE by name,
    // not as 20 cryptic similarity failures
    val dims = graft.sources.Tables.embeddings(spark, sf())
      .selectExpr("size(embedding) AS d").distinct().collect().map(_.getInt(0)).toSet
    assert(dims == Set(64), s"embedding dims drifted: $dims")
  }

  test("canary: documents/events column sets match what the catalog assumes") {
    val docCols = graft.sources.Tables.documents(spark, sf()).columns.toSet
    assert(Set("doc_id", "text", "lang", "source", "n_chars").subsetOf(docCols),
      s"documents columns drifted: $docCols")
    val evCols = graft.sources.Tables.events(spark, sf()).columns.toSet
    assert(Set("event_id", "ts", "user_id", "event_type", "value").subsetOf(evCols),
      s"events columns drifted: $evCols")
  }

  test("canary: SparkEntry.entry (the driver's smoke check) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("canary: events.ts reads as session-TZ TimestampType at every sf vintage") {
    val df = Tables.events(spark, sf())
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType,
      s"events.ts resolved as ${df.schema("ts").dataType} — reader dispatch broken")
    // the value must be a sane 21st-century instant, not a nanos-as-micros
    // misparse (which lands in year 1970) or a micros-as-nanos one (56000s)
    val year = df.selectExpr("min(year(ts))").head().getInt(0)
    assert(year >= 2000 && year <= 2100, s"events.ts decoded to year $year")
  }
}
