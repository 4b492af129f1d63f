package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.fillDown

/** Reshaping / wrangling verbs (SURVEY §2.B) — the Spark-native
  * analogues of the reference's tidyverse pipeline
  * (tratamento_epe.R:80-278): pivot_longer/wider, separate, fill-down,
  * bind_rows, positional slicing, dynamic renames, regex column
  * selection and bulk casts.
  *
  * All verbs are plan-to-plan (DataFrame in, DataFrame out) and keep
  * the computation declarative so Catalyst still prunes/pushes through
  * them; none touch the driver (no collect).
  */
object Reshape {

  /** Wide→long unpivot (pivot_longer, tratamento_epe.R:148,185).
    * `valueCols` melt into (`nameCol`, `valueCol`) pairs; value columns
    * are cast to a common type by Spark's unpivot resolution.
    */
  def pivotLonger(
      df: DataFrame,
      idCols: Seq[String],
      valueCols: Seq[String],
      nameCol: String = "name",
      valueCol: String = "value"): DataFrame =
    df.unpivot(idCols.map(col).toArray, valueCols.map(col).toArray, nameCol, valueCol)

  /** Long→wide pivot with an explicit value list — never collects the
    * distinct values on the driver (required at 100 TB; also keeps the
    * output schema deterministic for the oracle).
    */
  def pivotWider(
      df: DataFrame,
      groupCols: Seq[String],
      pivotCol: String,
      values: Seq[Any],
      agg: Column): DataFrame =
    df.groupBy(groupCols.map(col): _*).pivot(pivotCol, values).agg(agg)

  /** Split one string column into parts (tidyr::separate,
    * tratamento_epe.R:187). `into` names get successive split fields;
    * missing parts become null (matching separate's fill='right').
    */
  def separate(
      df: DataFrame,
      column: String,
      sep: String,
      into: Seq[String],
      drop: Boolean = true): DataFrame = {
    val parts = split(col(column), sep)
    // get() (not getItem) so a missing trailing part yields null instead
    // of an ANSI out-of-bounds error.
    val withParts = into.zipWithIndex.foldLeft(df) { case (d, (name, i)) =>
      d.withColumn(name, get(parts, lit(i)))
    }
    if (drop) withParts.drop(column) else withParts
  }

  /** Fill nulls downward within a partition along an explicit ordering
    * (zoo::na.locf0, tratamento_epe.R:100,140). Spark has no implicit
    * row order, so the ordering columns are part of the contract.
    */
  def fillDownCols(
      df: DataFrame,
      cols: Seq[String],
      orderBy: Seq[Column],
      partitionBy: Seq[Column]): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(c, fillDown(col(c), orderBy, partitionBy))
    }

  /** n-way union with schema alignment (dplyr::bind_rows,
    * tratamento_epe.R:267-273): missing columns become null.
    */
  def bindRows(dfs: DataFrame*): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Positional row slice per partition along an explicit ordering —
    * the scalable form of slice(-1:-3) (tratamento_epe.R:89). Keeps
    * rows whose 1-based position is in [from, until]; until=-1 means
    * unbounded.
    *
    * `partitionBy` is REQUIRED and must be non-empty: an empty spec
    * would be a global single-partition window — every row through one
    * task, a silent scale-killer at 100 TB. Per-sheet slicing passes
    * the sheet key; there is deliberately no global form.
    */
  def sliceRows(
      df: DataFrame,
      orderBy: Seq[Column],
      from: Int,
      until: Int,
      partitionBy: Seq[Column]): DataFrame = {
    require(partitionBy.nonEmpty,
      "sliceRows: partitionBy must be non-empty — an empty spec is a global " +
        "single-partition window (all rows through one task). Pass the sheet/group key.")
    val w0 = Window.partitionBy(partitionBy: _*)
    val rn = col("__rn")
    val bounded =
      if (until < 0) rn >= from else rn >= from && rn <= until
    df.withColumn("__rn", row_number().over(w0.orderBy(orderBy: _*)))
      .filter(bounded).drop("__rn")
  }

  /** Promote the first row (by explicit ordering) to column names —
    * the reference's Shape-B header promotion (tratamento_epe.R:171-178
    * lifts a year row into `YYYY_M` column labels). The single header
    * row is the only driver round-trip, and it is metadata (column
    * names must live on the driver anyway), not data.
    *
    * Windowless and sortless: the header row is found with one
    * partially-aggregated `min_by` pass (no global sort, no
    * single-partition window), then removed by its ordering key. The
    * ordering key must be unique on the header row, or ties are
    * dropped with it.
    *
    * `orderBy` takes plain VALUE columns; the row with the MINIMUM
    * key tuple is promoted. Sort-direction wrappers (`col.desc`)
    * would silently embed a non-evaluable SortOrder inside the min_by
    * struct, so they are rejected loudly — to promote the maximum
    * row, pass an inverted key (e.g. `-col("rn")`).
    */
  def promoteFirstRowToHeader(
      df: DataFrame,
      orderBy: Seq[Column]): DataFrame = {
    require(orderBy.nonEmpty, "promoteFirstRowToHeader: orderBy must be non-empty")
    // col.desc/asc converts to a SortOrder node: non-evaluable inside
    // the min_by struct = "not a value column" — reject loudly instead
    // of promoting a wrong row
    val sortLike = orderBy.exists(c =>
      org.apache.spark.sql.graftshim.Shims.toCatalyst(c)
        .isInstanceOf[org.apache.spark.sql.catalyst.expressions.SortOrder])
    require(!sortLike,
      "promoteFirstRowToHeader: orderBy takes value columns, not col.asc/desc — " +
        "the minimum key tuple is promoted; invert the key (e.g. -col) for max")
    val ordStruct = struct(orderBy: _*)
    val rowStruct = struct(df.columns.toIndexedSeq.map(col): _*)
    val hdr = df
      .agg(min_by(struct(rowStruct.as("row"), ordStruct.as("ord")), ordStruct).as("h"))
      .head().getStruct(0)
    require(hdr != null,
      "promoteFirstRowToHeader: input has no rows — no header row to promote " +
        "(an empty sheet reached header promotion)")
    val headerRow = hdr.getStruct(0)
    val headerOrd = hdr.getStruct(1)
    val renamed = df.columns.zipWithIndex.map { case (c, i) =>
      val h = Option(headerRow.get(i)).map(_.toString).filter(_.nonEmpty).getOrElse(c)
      col(c).as(h)
    }
    val isHeader = orderBy.zipWithIndex
      .map { case (c, i) => c <=> lit(headerOrd.get(i)) }
      .reduce(_ && _)
    df.filter(!isHeader).select(renamed.toIndexedSeq: _*)
  }

  /** Dynamic rename over regex-matched columns (rename_with +
    * matches(), tratamento_epe.R:106-131,162).
    */
  def renameWith(df: DataFrame, pattern: String, f: String => String): DataFrame = {
    val re = pattern.r
    val mapping = df.columns.collect {
      case c if re.findFirstIn(c).isDefined => c -> f(c)
    }.toMap
    df.withColumnsRenamed(mapping)
  }

  /** Keep only columns whose name matches (select(matches(...)),
    * tratamento_epe.R:133,152,220); `keep` always survive.
    */
  def selectMatching(df: DataFrame, pattern: String, keep: Seq[String] = Nil): DataFrame = {
    val re = pattern.r
    val cols = df.columns.filter(c => keep.contains(c) || re.findFirstIn(c).isDefined)
    df.select(cols.toIndexedSeq.map(col): _*)
  }

  /** Drop columns whose name matches (select(-matches(...))). */
  def dropMatching(df: DataFrame, pattern: String): DataFrame = {
    val re = pattern.r
    df.drop(df.columns.toIndexedSeq.filter(c => re.findFirstIn(c).isDefined): _*)
  }

  /** Bulk cast across regex-matched columns (mutate(across(matches(),
    * as.numeric)), tratamento_epe.R:144,182). ANSI semantics: a
    * malformed cell FAILS the job. Use [[castMatchingSafe]] for the
    * reference's actual behavior (R's as.numeric coerces to NA).
    */
  def castMatching(df: DataFrame, pattern: String, to: String): DataFrame = {
    val re = pattern.r
    val cols = df.columns.map { c =>
      if (re.findFirstIn(c).isDefined) col(c).cast(to).as(c) else col(c)
    }
    df.select(cols: _*)
  }

  /** [[castMatching]] with R's `as.numeric` coercion semantics: cells
    * that don't parse become null instead of failing the job
    * (`try_cast`). This is what a real Excel sheet needs — headers
    * mid-data, '-' placeholders, stray footnotes — and exactly what the
    * reference relies on (tratamento_epe.R:144 produces NAs with a
    * warning, then filters them).
    */
  def castMatchingSafe(df: DataFrame, pattern: String, to: String): DataFrame = {
    val re = pattern.r
    val cols = df.columns.map { c =>
      if (re.findFirstIn(c).isDefined) expr(s"try_cast(`$c` AS $to)").as(c) else col(c)
    }
    df.select(cols: _*)
  }
}
