package graft.tools

/** Perf probe (test scope, not shipped): why does labeler_votes cost
  * ~10× labeler_decision when both share the cells→regex→agg upstream?
  * Run: Test/runMain graft.tools.VotesProbe */
object VotesProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(cpus = 32, appName = "votes-probe")
    val dir = "/root/testdata/sf0.1"
    val qs = graft.SparkEntry.queries
    def t(name: String): Unit = {
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        val n = qs(name)(spark, dir).count()
        println(f"PROBE $name%-20s run$i ${(System.nanoTime() - t0) / 1e9}%6.3f s ($n rows)")
      }
    }
    t("labeler_votes")
    t("labeler_decision")
    // variants: where does the 2.4s go?
    import org.apache.spark.sql.functions._
    val o = graft.Tables.load(spark, dir, "orders")
    def tc(name: String)(mk: => org.apache.spark.sql.DataFrame): Unit =
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        val n = mk.count()
        println(f"PROBE $name%-20s run$i ${(System.nanoTime() - t0) / 1e9}%6.3f s ($n rows)")
      }
    val lbl = graft.labelers.RegexLabeler.labelOf(_)
    tc("scan_only")(o.select(col("o_orderkey")))
    tc("one_cell_label") {
      o.select(lbl(col("o_orderkey").cast("string")).as("l")).groupBy("l").count()
    }
    tc("four_cell_label") {
      val ks = col("o_orderkey").cast("string")
      o.select(explode(array(ks, concat(lit("u"), ks, lit("@x.com")),
        md5(ks), col("o_orderpriority"))).as("c"))
        .select(lbl(col("c")).as("l")).groupBy("l").count()
    }
    // split votes: cell construction alone (mixed/contact/uuid columns,
    // no regex) — replica of LabelerQueries.cells
    def cellsDf = {
      val k = col("o_orderkey")
      val ks = k.cast("string")
      val email = concat(lit("user"), ks, lit("@example.com"))
      val h = md5(ks)
      val uuid = concat(substring(h, 1, 8), lit("-"), substring(h, 9, 4),
        lit("-"), substring(h, 13, 4), lit("-"), substring(h, 17, 4),
        lit("-"), substring(h, 21, 12))
      val phone = concat(lit("("),
        lpad((k % 700 + 200).cast("string"), 3, "0"), lit(") "),
        lpad((k % 900 + 100).cast("string"), 3, "0"), lit("-"),
        lpad((k % 10000).cast("string"), 4, "0"))
      val m = k % 10
      val mixed = when(m === 0, email).when(m === 8, phone).otherwise(uuid)
      val contact = when(m < 5, email).when(m < 8, phone).otherwise(ks)
      o.select(explode(array(
        struct(lit("mixed").as("col_name"), mixed.as("cell")),
        struct(lit("contact").as("col_name"), contact.as("cell")),
        struct(lit("ids").as("col_name"), uuid.as("cell")),
        struct(lit("priority").as("col_name"),
          col("o_orderpriority").as("cell")))).as("kv"))
        .select(col("kv.col_name"), col("kv.cell"))
    }
    tc("cells_only")(cellsDf.groupBy("col_name").count())
    tc("cells_plus_label")(cellsDf
      .select(col("col_name"), lbl(col("cell")).as("l"))
      .groupBy("col_name", "l").count())
    spark.stop()
  }
}
