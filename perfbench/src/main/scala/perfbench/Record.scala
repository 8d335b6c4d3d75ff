package perfbench

import java.io.File

import org.apache.spark.sql.Observation

/** Dumps catalog query results for the DuckDB oracle, in the benchmark's
  * own posture (`Harness.session` and `GraftExtensions.install`), together
  * with the fingerprint of exactly the rows dumped. `record.py` stores the
  * fingerprints as expected results only for queries whose dumps pass
  * `tools/check_oracle.py`.
  *
  * Arguments are `key=value` pairs: data, work, out, cores and ops (the
  * comma-separated query names). Each query's rows go to `out/<name>` as
  * parquet, its oracle SQL to `out/oracle_sql.json` and its fingerprint to
  * `out/fingerprints.json`.
  */
object Record {
  def main(args: Array[String]): Unit = {
    val a = Harness.parseArgs(args)
    val ops = a("ops").split(",").toSeq.filter(_.nonEmpty)
    val data = a("data")
    val out = new File(a("out"))
    val spark = Harness.session(a("cores").toInt, new File(a("work")))
    graft.plans.GraftExtensions.install(spark)
    val catalog = graft.queries.QueryCatalog.all.map(q => q.name -> q).toMap
    val missing = ops.filterNot(catalog.contains)
    require(missing.isEmpty, s"unknown catalog queries: ${missing.mkString(",")}")
    out.mkdirs()
    val fingerprints = ops.map { name =>
      val df = catalog(name).run(spark, data)
      val obs = Observation()
      // the dump keeps the query's column names, which the oracle compares
      Harness.observed(df, obs).toDF(df.columns.toIndexedSeq: _*)
        .coalesce(1).write.mode("overwrite").parquet(new File(out, name).getPath)
      name -> Harness.fingerprintOf(obs.get)
    }.toMap
    Harness.mapper.writeValue(new File(out, "oracle_sql.json"),
      graft.SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) })
    Harness.mapper.writeValue(new File(out, "fingerprints.json"), fingerprints)
    spark.stop()
  }
}
