package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.functions.{Hashing, TextAnalysis}

/** End-to-end training-data curation — the LLM-corpus counterpart of the
  * reference pipeline's ingest→transform→combine→predict composition
  * (`graft.pipeline.Pipeline`): one call takes a raw document table to a
  * training-ready, packed, split corpus with a stage-attrition report.
  *
  * Stages, each an already-proven operator (oracle-checked under the
  * query id in parentheses):
  *   1. quality screen — min length + language allowlist (q30/q66 family)
  *   2. exact dedup — fingerprint keep-min ([[DedupPipeline.exact]], q40)
  *   3. near dedup — Jaccard candidates → connected components → min-id
  *      keeper ([[DedupPipeline.near]], q41/q67)
  *   4. deterministic split — md5-uniform train/val/test (q99)
  *   5. sequence packing — greedy first-fit token packing per split
  *      ([[SequencePack.greedy]], q77)
  *
  * Scale posture is inherited from the stages: every candidate structure
  * is a keyed join, the only broadcast is the capped keeper set inside
  * `near`, packing is O(1)-state per stream.
  *
  * Each dedup stage runs once: `exact` and `near` are each materialized
  * by one [[CheckpointBlocks.checkpoint]], and the four attrition counts
  * are [[org.apache.spark.sql.Observation]] metrics on those two jobs
  * (input, quality and exact on the first, near on the second), so the
  * report adds no job of its own. Near dedup, split and packing read the
  * checkpoints, never the raw chain again.
  */
object CurationPipeline {

  final case class Config(
      minChars: Long = 20,
      langs: Set[String] = Set("en"),
      nearN: Int = 5,
      nearThreshold: Double = 0.5,
      maxDf: Long = 1000,
      trainFrac: Double = 0.8,
      valFrac: Double = 0.1,
      packBudget: Long = 256)

  /** `kept`: the surviving docs + `split`, `n_tokens`, `pack_id` columns.
    * `report`: (stage, n_docs) attrition rows in pipeline order. */
  final case class Result(kept: DataFrame, report: DataFrame)

  def run(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, cfg: Config = Config()): Result = {
    require(cfg.trainFrac > 0 && cfg.valFrac >= 0 &&
      cfg.trainFrac + cfg.valFrac < 1, "split fractions must partition [0,1)")
    val spark = docs.sparkSession
    // an Observation is read only after the checkpoint that fulfils it
    // has returned: `get` blocks until its metric arrives
    def observed(df: DataFrame): (DataFrame, Observation) = {
      val obs = Observation()
      (df.observe(obs, count(lit(1)).as("n")), obs)
    }
    val screen = length(col(textCol)) >= cfg.minChars &&
      col(langCol).isin(cfg.langs.toSeq: _*)
    val (input, inputObs) = observed(docs)
    val (quality, qualityObs) = observed(input.filter(screen))
    val (exactRaw, exactObs) =
      observed(DedupPipeline.exact(quality, idCol, textCol))
    val exact = CheckpointBlocks.checkpoint(exactRaw)
    val (nearRaw, nearObs) = observed(DedupPipeline.near(
      exact, idCol, textCol, cfg.nearN, cfg.nearThreshold, cfg.maxDf))
    val near = CheckpointBlocks.checkpoint(nearRaw)
    // a subtree the optimizer or AQE proves empty is dropped from the
    // executed plan with the observed nodes in it, and their metrics come
    // back absent: such a stage is counted directly, a job paid only on
    // a corpus with an empty stage
    def n(obs: Observation, stage: => DataFrame): Long =
      obs.get.get("n").fold(stage.count())(_.asInstanceOf[Long])
    val u = Hashing.md5Uniform(col(idCol).cast("string"))
    val split = near
      .withColumn("split",
        when(u < cfg.trainFrac, "train")
          .when(u < cfg.trainFrac + cfg.valFrac, "val")
          .otherwise("test"))
      .withColumn("n_tokens",
        size(TextAnalysis.tokensCol(col(textCol))).cast("long"))
    val packed = SequencePack.greedy(
      split, "split", idCol, "n_tokens", cfg.packBudget)
      .select(col("stream").as("split"), col("order").as("__pid"),
        col("pack_id"))
    val kept = split.join(packed,
      split("split") === packed("split") &&
        split(idCol).cast("long") === packed("__pid"))
      .drop(packed("split")).drop("__pid")
    import spark.implicits._
    val report = Seq(
      ("1_input", n(inputObs, docs)),
      ("2_quality", n(qualityObs, docs.filter(screen))),
      ("3_exact_dedup", n(exactObs, exact)),
      ("4_near_dedup", n(nearObs, near)))
      .toDF("stage", "n_docs")
    Result(kept, report)
  }
}
