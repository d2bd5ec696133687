package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spec-only reference implementations for [[AnnIndex]]. */
object AnnReference {

  /** Interpreted HOF reference of [[AnnIndex.residuals]]'s subtraction —
    * the semantic spec for [[graft.functions.ResidualVec]] (LlmSpec
    * asserts exact agreement on the real corpus).
    */
  def residualsHof(emb: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    AnnIndex.assignments(emb, cents)
      .select(col("vec_id"), col("cell"),
        zip_with(col("v"), element_at(centsLit, col("cell") + 1),
          (x, c) => x - c).as("rv"))
  }
}
