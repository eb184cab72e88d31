package graft.extract

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `lib.Flat` parity (`/root/reference/lib/base.go:75-93`): the reference's
  * helper pivots a columnar `map[string][]interface{}` into row-wise
  * `[]map[string]interface{}` — zip the value lists positionally.
  *
  * Spark-native: `arrays_zip` + `explode` (SURVEY.md §1.2). Given N array
  * columns, produce one row per index with scalar columns.
  */
object Flat {

  /** Zip the given array columns row-wise and explode: one output row per
    * array index, each listed column scalarized. Ragged arrays yield nulls
    * (arrays_zip pads), matching Flat's index-bound behavior on the
    * shortest... the Go helper indexes by the FIRST key's length
    * (`lib/base.go:80-90`) — rows beyond a shorter list carry that list's
    * zero value, i.e. null here.
    */
  def flat(df: DataFrame, arrayCols: Seq[String]): DataFrame = {
    val zipped = arrays_zip(arrayCols.map(col): _*)
    val exploded = df.withColumn("_zipped", explode(zipped))
    val scalars = arrayCols.map(c => exploded.col(s"_zipped.$c").as(c))
    val keep = df.columns.filterNot(arrayCols.contains).map(col).toSeq
    exploded.select(keep ++ scalars: _*)
  }
}
