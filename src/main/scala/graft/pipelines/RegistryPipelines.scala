package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.enrich.{Enrichment, EnrichmentProvider, StubProvider}
import graft.ops.{JoinOps, MergeOps, ShapeOps, TextOps}

/** The three country-pipeline equivalents (SURVEY.md §3), composed from
  * the operator library as pure `DataFrame => DataFrame` stages. Each
  * mirrors its handler's documented op order; ingest (HTTP/XLSX/PDF
  * parsing) stays outside the engine — callers supply the staged table
  * (with an explicit order column) and, where relevant, the extracted
  * image anchors.
  *
  * All stages are lazy plan builders: composing a pipeline costs nothing
  * until a sink executes it, and Catalyst collapses the stacked
  * projections into one generated stage.
  */
object RegistryPipelines {

  /** Belarus (handlers/belarus.py:89-134): header-promote → slice(2) →
    * trim-all → positional image join (ROW_OFFSET=2) → enrichment.
    */
  def belarus(
      staged: DataFrame,          // raw rows with _idx minted at ingest
      images: DataFrame,          // (excel_row, img_order, b64)
      brandCol: String,
      provider: EnrichmentProvider = StubProvider): DataFrame = {
    val shaped = ShapeOps.sliceFrom(ShapeOps.promoteHeader(staged), 2)
    val trimmed = TextOps.trimAll(shaped)
    val withImages = JoinOps.attachImages(trimmed, images,
      rowCol = "excel_row", payloadCol = "b64", imageOrderCol = "img_order",
      rowOffset = 2)
    Enrichment.process(withImages, brandCol = brandCol,
      imageCol = "Изображение", provider = provider)
  }

  /** Kazakhstan (handlers/kazakhstan.py:100-194): like Belarus but with
    * column-name repair and the NFKC clean_text pass over every string
    * column; ROW_OFFSET=5.
    */
  def kazakhstan(
      staged: DataFrame,
      images: DataFrame,
      brandCol: String,
      provider: EnrichmentProvider = StubProvider): DataFrame = {
    val shaped = ShapeOps.cleanColumnNames(
      ShapeOps.sliceFrom(ShapeOps.promoteHeader(staged), 2))
    val cleaned = TextOps.cleanTextAll(shaped)
    val withImages = JoinOps.attachImages(cleaned, images,
      rowCol = "excel_row", payloadCol = "b64", imageOrderCol = "img_order",
      rowOffset = 5)
    Enrichment.process(withImages, brandCol = brandCol,
      imageCol = "Изображение", provider = provider)
  }

  /** Kyrgyzstan (handlers/kyrgyzstan.py:141-329): cast-all-string →
    * clean cells → tolerant rename → reg-num normalize → continuation
    * merge → enrichment. No images reach this pipeline (the reference
    * feeds PDF bytes to the XLSX image extractor, which fails silently —
    * SURVEY §3), so enrichment runs with an empty image column.
    */
  def kyrgyzstan(
      staged: DataFrame,
      regNumCol: String,
      brandCol: String,
      renames: Map[String, String] = Map.empty,
      provider: EnrichmentProvider = StubProvider): DataFrame = {
    val asStrings = TextOps.castAllToString(staged)
      .withColumn(ShapeOps.IndexCol, col(ShapeOps.IndexCol).cast("long"))
    val cleaned = cleanAllCells(asStrings, except = Set(ShapeOps.IndexCol))
    val renamed = ShapeOps.renameTolerant(cleaned, renames)
    val normalized = renamed.withColumn(regNumCol,
      TextOps.normalizeRegNum(graft.Cols.q(regNumCol)))
    val merged = MergeOps.continuationMerge(normalized, keyCol = regNumCol)
    Enrichment.process(
      merged.withColumn("Изображение", lit("")),
      brandCol = brandCol, imageCol = "Изображение", provider = provider)
  }

  private def cleanAllCells(df: DataFrame, except: Set[String]): DataFrame =
    df.select(df.columns.toIndexedSeq.map { c =>
      if (except.contains(c)) graft.Cols.q(c) else TextOps.cleanCell(graft.Cols.q(c)).as(c)
    }: _*)
}
