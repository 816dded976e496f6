package graft

import org.apache.spark.sql.functions.lit

/** [[Tables.load]]'s cached schema follows the corpus file: a table
  * rewritten at the same path is read with its new schema.
  */
class TablesSpec extends SparkSpec {
  test("a corpus table rewritten in place is read with its new schema") {
    val sf = TempDirs.create("graft-tables-spec")
    val path = s"$sf/region.parquet"
    spark.range(3).toDF("r_regionkey").write.mode("overwrite").parquet(path)
    assert(Tables.region(spark, sf).columns.toSeq === Seq("r_regionkey"))
    Thread.sleep(1100) // a distinct mtime even at 1 s timestamp resolution
    spark.range(3).toDF("r_regionkey").withColumn("r_name", lit("x"))
      .write.mode("overwrite").parquet(path)
    assert(Tables.region(spark, sf).columns.toSeq === Seq("r_regionkey", "r_name"))
    assert(Tables.region(spark, sf).collect().forall(_.getString(1) == "x"))
  }
}
