package graft

import java.sql.Date

import org.apache.spark.sql.Row

class PipelineSpec extends SparkSpec {

  test("integrationReport produces a validated wide report at sf0.001") {
    val out = Pipeline.integrationReport(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // wide report shape: keys + 4 indicator cols + tax rollup
    assert(out.columns.toSeq ==
      Seq("period", "region", "nation", "a_f", "n_f", "n_o", "r_f", "tax_total"))
    // region/nation are normalized (lowercased, accent-free)
    assert(rows.forall(r => r.getString(1) == r.getString(1).toLowerCase))
    // rule matrix kept only consistent rows: A_F <= 2 * R_F wherever both exist
    rows.foreach { r =>
      val aF = Option(r.get(3)).map(_.asInstanceOf[Double])
      val rF = Option(r.get(6)).map(_.asInstanceOf[Double])
      (aF, rF) match {
        case (Some(a), Some(rf)) => assert(a <= rf * 2, s"inconsistent row survived: $r")
        case _ => ()
      }
    }
  }

  test("integrationReport groups by normalized dimension names: spellings of one nation merge") {
    import spark.implicits._
    val dir = TempDirs.create("graft-report-names").getPath
    def write(df: org.apache.spark.sql.DataFrame, t: String): Unit =
      df.write.parquet(s"$dir/$t.parquet")
    write(Seq((0, "Région publique"), (1, "AMÉRIQUE-DU-NORD")).toDF("r_regionkey", "r_name"), "region")
    // nations 0 and 1 are two spellings that both normalize to "cote divoire";
    // "public" is cut after the trim, so "Canada (public)" keeps a trailing blank
    write(Seq((0, "CÔTE-D'IVOIRE", 0), (1, "côte d'ivoire", 0), (2, "Canada (public)", 1))
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")
    write(Seq((10L, 0), (11L, 1), (12L, 2)).toDF("c_custkey", "c_nationkey"), "customer")
    write(Seq(
      (100L, 10L, Date.valueOf("1995-01-15")),
      (101L, 11L, Date.valueOf("1995-01-20")),
      (102L, 12L, Date.valueOf("1995-02-03"))).toDF("o_orderkey", "o_custkey", "o_orderdate"), "orders")
    // lines numbered above 3 come from the source without a tax column
    write(Seq(
      (100L, 1, "R", "F", 10.0, 0.05),
      (100L, 2, "A", "F", 4.0, 0.10),
      (101L, 1, "R", "F", 5.0, 0.02),
      (101L, 2, "N", "F", 1.0, 0.03),
      (101L, 4, "N", "O", 7.0, 0.08),
      (102L, 4, "N", "F", 3.0, 0.07),
      (102L, 5, "N", "O", 2.0, 0.01))
      .toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_quantity", "l_tax"), "lineitem")

    val rows = Pipeline.integrationReport(spark, dir).collect().toSeq
    assert(rows == Seq(
      // both spellings in one row: R_F 10+5, A_F 4, N_F 1, N_O 7; tax
      // 0.05+0.10+0.02+0.03 (line 4's tax is not in its source)
      Row("199501", "region publique", "cote divoire", 4.0, 1.0, 7.0, 15.0, 0.2),
      // every line from the tax-less source: tax_total stays null
      Row("199502", "amerique du nord", "canada ", null, 3.0, 2.0, null, null)))
  }
}
