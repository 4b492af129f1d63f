package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Reshape
import graft.queries.dec

/** Spark-first re-expression of the reference's full pipeline
  * (tratamento_epe.R:80-278): a pivoted monthly "sheet" is unpivoted to
  * a long table, dimension columns are regex-derived and conditionally
  * rewritten, several slices are union-aligned, and a concatenated
  * selector key is built.
  *
  * The reference reads Excel sheets; here the wide sheets are built
  * deterministically from the `orders` table (one sheet keyed by order
  * priority, one by order status) so the flagship query has a DuckDB
  * oracle twin. Every step maps to a SURVEY §2.B operator:
  * pivotWider (B12) → renameWith (B9) → castMatching (B17) →
  * pivotLonger (B11) → regex extract/replace + case norm (B4/B6/B7) →
  * conditional rewrite (B2) → regex row filter (B5) → bindRows (B15) →
  * make_date (B14) → concat_ws key (B16).
  */
object EpeWideToLong {

  /** Full pipeline over `orders`: two sheets, regex dims, union, key.
    *
    * The reference processes each sheet separately and binds the
    * results (a per-sheet union). Translated literally, Catalyst
    * pushes each sheet's filters into its own copy of the fact scan —
    * the subtrees stop being identical, ReuseExchange can't fire, and
    * the fact table is scanned once per sheet. The Spark-first shape
    * instead pre-aggregates ONE tiny cube at (priority, status, ano,
    * mes) grain, then EXPLODES each cube row into its two sheet keys —
    * one downstream pipeline, one fact scan (asserted in PlanSpec),
    * with the per-sheet dimension logic expressed as `when(sheet=…)`
    * conditionals. Decimal sums are associative, so the two-level
    * aggregation hash-matches the DuckDB twin, which aggregates each
    * sheet directly.
    */
  def run(orders: DataFrame): DataFrame = {
    val cube = orders
      .groupBy(
        col("o_orderpriority"), col("o_orderstatus"),
        year(col("o_orderdate")).as("ano"), month(col("o_orderdate")).as("mes"))
      .agg(sum(dec(col("o_totalprice"))).as("valor"))
    // one row per (sheet, classe): sheet P keyed by priority, S by status
    val keyed = cube
      .select(
        explode(array(
          struct(lit("P").as("sheet"), col("o_orderpriority").as("classe")),
          struct(lit("S").as("sheet"), col("o_orderstatus").as("classe")))).as("k"),
        col("ano"), col("mes"), col("valor"))
      .select(col("k.sheet").as("sheet"), col("k.classe").as("classe"),
        col("ano"), col("mes"), col("valor"))
    val wide = Reshape.renameWith(
      Reshape.pivotWider(keyed, Seq("sheet", "classe", "ano"), "mes", 1 to 12,
        sum(col("valor"))),
      "^[0-9]+$", c => s"m$c")
    val long = Reshape
      .pivotLonger(Reshape.castMatching(wide, "^m[0-9]+$", "double"),
        Seq("sheet", "classe", "ano"), (1 to 12).map(m => s"m$m"), "mes_raw", "valor")
      .filter(col("valor").isNotNull)
      .withColumn("mes", regexp_extract(col("mes_raw"), "([0-9]+)$", 1).cast("int"))
      .drop("mes_raw")
      .withColumn("data", make_date(col("ano"), col("mes"), lit(1)))
    val isP = col("sheet") === "P"
    // Sheet P: "N-LABEL" → dado = leading digit, abertura = upper(label)
    // with a conditional rewrite; sheet S: dado = STATUS sentinel.
    val rawAbertura = when(isP, upper(regexp_replace(col("classe"), "^[0-9]-", "")))
      .otherwise(upper(col("classe")))
    long
      .withColumn("dado", when(isP, regexp_extract(col("classe"), "^([0-9])", 1))
        .otherwise(lit("STATUS")))
      .withColumn("abertura",
        when(rawAbertura === "NOT SPECIFIED", "NAO ESPECIFICADO").otherwise(rawAbertura))
      .filter(!col("abertura").rlike("^TOTAL"))
      .withColumn("selector",
        concat_ws(" - ", col("dado"), col("abertura"), lit("MERCADO")))
      .select("selector", "ano", "mes", "data", "valor")
      .orderBy("selector", "ano", "mes")
  }
}
