package graft

import org.apache.spark.sql.functions._

import graft.operators.Rules

class RulesSpec extends SparkSpec {
  import spark.implicits._

  private val rules = Seq(
    Rules.Rule("low", col("v") > 10, 1, "YELLOW"),
    Rules.Rule("high", col("v") > 100, 3, "RED"),
    Rules.Rule("mid", col("v") > 50, 2, "ORANGE"))

  test("highest-priority matching rule wins regardless of declaration order") {
    val df = Seq(5, 20, 60, 200).toDF("v")
    val out = Rules.applyRules(df, rules).orderBy("v").collect()
    assert(out.map(r => Option(r.getString(1))).toSeq ==
      Seq(None, Some("YELLOW"), Some("ORANGE"), Some("RED")))
  }

  test("compileFormula: reference grammar — letters, arithmetic, parens, every comparison") {
    // frame columns A..E under shift=1
    val df = Seq(
      (10L, 3L, 4L, 2L, 5L),
      (6L, 7L, 1L, 1L, 2L),
      (5L, 5L, 0L, 10L, 2L)).toDF("a", "b", "c", "d", "e")
    def eval(f: String): Seq[Boolean] =
      df.withColumn("__p", Rules.compileFormula(f, df.columns.toSeq, shift = 1))
        .orderBy("a").collect().map(_.getBoolean(5)).toSeq
    // rows ordered by a: (5,5,0,10,2), (6,7,1,1,2), (10,3,4,2,5)
    assert(eval("A<B") == Seq(false, true, false))
    assert(eval("A!=B") == Seq(false, true, true))
    assert(eval("(B+C)>A") == Seq(false, true, false))      // the reference's (J+I)>G shape
    assert(eval("A>=B+C") == Seq(true, false, true))
    assert(eval("B*E<=A") == Seq(false, false, false))
    assert(eval("A<>10") == Seq(true, true, false))
    assert(eval("D/E=5") == Seq(true, false, false))
    assert(eval("A = B") == Seq(true, false, false))        // whitespace tolerated
  }

  test("compileFormula resolves two-letter columns with the reference's shift-3 convention") {
    // AA = index 27 -> columns(27-3) = columns(24): pad 24 dummies first
    val cols = (0 until 24).map(i => s"pad$i") :+ "target" :+ "other"
    val df = Seq((9L, 4L)).toDF("target", "other")
    val padded = (0 until 24).foldLeft(df)((acc, i) => acc.withColumn(s"pad$i", lit(0L)))
      .select(cols.map(col): _*)
    val out = padded.withColumn("__p",
      Rules.compileFormula("AA>AB", cols, shift = 3)).head
    assert(out.getBoolean(cols.length), "AA(27)->target=9 > AB(28)->other=4")
    // out-of-range letters and malformed formulas fail loudly at compile time
    intercept[IllegalArgumentException](Rules.compileFormula("ZZ>A", cols))
    intercept[IllegalArgumentException](Rules.compileFormula("A B", cols, shift = 1))
    intercept[IllegalArgumentException](Rules.compileFormula("A>", cols, shift = 1))
  }

  test("rulesFromFormulas feeds the priority CASE chain like hand-written rules") {
    val df = Seq((100L, 1L), (1L, 100L), (5L, 5L)).toDF("x", "y")
    val rules = Rules.rulesFromFormulas(Seq(
      ("r1", "A>B", "#FF0000", 90),
      ("r2", "A<B", "#00FF00", 80)), df.columns.toSeq, shift = 1)
    val out = Rules.applyRules(df, rules).orderBy("x").collect()
      .map(r => Option(r.getString(2))).toSeq
    assert(out == Seq(Some("#00FF00"), None, Some("#FF0000")))
  }

  test("splitConsistent partitions rows by whether any rule fired") {
    val df = Seq(5, 20, 60, 200).toDF("v")
    val (cons, incons) = Rules.splitConsistent(df, rules)
    assert(cons.count() == 1 && incons.count() == 3)
    assert(cons.columns.toSeq == Seq("v")) // flag column dropped on the clean side
  }

  test("colorMatrix colors each column by its own rule subset") {
    val df = Seq((1, 200, 5), (2, 5, 60)).toDF("id", "a", "b")
    val out = Rules.colorMatrix(df, Seq(
      "a" -> Seq(Rules.Rule("ra", col("a") > 100, 1, "FFFF0000")),
      "b" -> Seq(Rules.Rule("rb", col("b") > 50, 1, "FFFFFF00"))))
      .orderBy("id").collect()
    assert(out(0).getString(out(0).fieldIndex("a__color")) == "FFFF0000")
    assert(out(0).isNullAt(out(0).fieldIndex("b__color")))
    assert(out(1).isNullAt(out(1).fieldIndex("a__color")))
    assert(out(1).getString(out(1).fieldIndex("b__color")) == "FFFFFF00")
  }

  test("exportMatrixSheets writes one colored sheet per matrix, readable by display name") {
    import graft.sources.Xlsx
    val path = SparkEntry.tempDir("graft-matrix2").toString + "/wb.xlsx"
    val vih = Seq((1, 200)).toDF("id", "a")
    val ist = Seq((2, 9), (3, 60)).toDF("id", "b")
    Rules.exportMatrixSheets(path, Seq(
      ("VIH", vih, Seq("id", "a"), Seq("id"),
        Seq("a" -> Seq(Rules.Rule("ra", col("a") > 100, 1, "FFFF0000")))),
      ("IST", ist, Seq("id", "b"), Seq("id"),
        Seq("b" -> Seq(Rules.Rule("rb", col("b") > 50, 1, "FFFFFF00"))))))
    val vihBack = Xlsx.grid(spark, path, skipRows = 0, sheet = "VIH").collect()
    assert(vihBack.length == 1 && vihBack(0).getString(1) == "200")
    val istBack = Xlsx.grid(spark, path, skipRows = 0, sheet = "IST").collect()
    assert(istBack.length == 1 && istBack(0).getString(1) == "60")
    // fills: sheet2 carries IST's yellow even though the color table is shared
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    assert(Xlsx.cellFills(bytes, "sheet1")(1).toSeq == Seq(null, "FFFF0000"))
    assert(Xlsx.cellFills(bytes, "sheet2")(1).toSeq == Seq(null, "FFFFFF00"))
  }

  test("exportMatrix round-trips values AND per-cell fill colors through xlsx") {
    import graft.sources.Xlsx
    val path = SparkEntry.tempDir("graft-matrix").toString + "/matrix.xlsx"
    // row 3 violates nothing and must not appear in the report
    val df = Seq((1, 200, 5), (2, 5, 60), (3, 5, 5)).toDF("id", "a", "b")
    Rules.exportMatrix(df,
      columns = Seq("id", "a", "b"),
      orderBy = Seq("id"),
      colRules = Seq(
        "a" -> Seq(
          Rules.Rule("warn", col("a") > 100, 1, "FFFFFF00"),
          Rules.Rule("crit", col("a") > 150, 2, "FFFF0000")),
        "b" -> Seq(Rules.Rule("rb", col("b") > 50, 1, "FF00B050"))),
      path = path)
    // values: header + the two violating rows
    val back = Xlsx.grid(spark, path, skipRows = 0).orderBy("id").collect()
    assert(back.length == 2)
    assert(back(0).getString(1) == "200" && back(1).getString(2) == "60")
    // fills: read styles back, assert color per cell (priority pick included)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val fills = Xlsx.cellFills(bytes)
    assert(fills(0).forall(_ == null), "header row must be unfilled")
    assert(fills(1).toSeq == Seq(null, "FFFF0000", null), "a=200 -> crit (priority 2) wins")
    assert(fills(2).toSeq == Seq(null, null, "FF00B050"))
  }
}
