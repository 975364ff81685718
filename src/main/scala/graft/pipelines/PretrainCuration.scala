package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.{Curation, Dedup}
import graft.ops.Stage

/** End-to-end pretraining-corpus curation: the library's LLM-data ops
  * composed as ONE lazy flow (each stage is individually oracle- or
  * spec-proven; this pipeline proves they compose). Stage order follows
  * the standard pretrain data recipe:
  *
  *  1. rule gate — exact-dup / length / language / quality (first-reason
  *     quarantine, [[Curation.curate]])
  *  2. corpus-wide line dedup — boilerplate removal
  *     ([[Dedup.dedupLinesAcrossCorpus]], C4 move); doc ids survive, text
  *     shrinks, token counts change, so the gate runs BEFORE and the
  *     fuzzy dedup AFTER reassembly
  *  3. fuzzy document dedup — staged signatures → LSH candidates →
  *     connected components → drop non-keepers ([[Dedup.applyDedup]])
  *  4. benchmark decontamination — drop any surviving doc sharing an
  *     n-gram with the eval set ([[Dedup.contaminatedDocs]])
  *  5. deterministic eval carve — hash-stratified per-language holdout
  *     ([[Curation.hashStratifiedSample]]); train = survivors minus
  *     holdout
  *
  * Scale posture is inherited from the stages: one text pass per stage
  * that must read text (gate, line dedup, signatures, grams), narrow-key
  * shuffles everywhere else, broadcasts pinned where a side is
  * metadata-sized. Every boundary is a DataFrame, so Catalyst fuses
  * adjacent projections and the whole flow stays unmaterialized until a
  * sink acts. */
object PretrainCuration {

  case class Result(train: DataFrame, holdout: DataFrame,
                    rejected: DataFrame, attrition: DataFrame)

  /** `bench` is the eval/benchmark corpus for decontamination; `holdoutPerLang`
    * rows per language are carved into the held-out split. */
  def run(docs: DataFrame, bench: DataFrame, rules: Curation.Rules,
          ngramN: Int = 3, holdoutPerLang: Int = 2): Result = {
    // 1. rule gate (first-reason quarantine)
    val (kept1, rejected) = Curation.curateSplit(docs, "text", "doc_id", "lang", rules)

    // 2. corpus-wide line dedup; docs whose every line was boilerplate drop
    val lineDeduped = Dedup.dedupLinesAcrossCorpus(kept1.select(col("doc_id"), col("text")),
        "text", "doc_id")
      .drop("n_lines_kept")
      .join(kept1.drop("text"), Seq("doc_id"))

    // 3. fuzzy dedup: stage signatures once, candidates, clusters, apply
    val clusters = Dedup.dupClusters(Dedup.lshCandidatePairs(
      Stage(Dedup.minhashSignature(lineDeduped, "text", 4)), "doc_id", 4, 2))
    val deduped = Dedup.applyDedup(lineDeduped, clusters, "doc_id")

    // 4. decontamination: anti-join the contaminated id list (id-only key)
    val contaminated = Dedup.contaminatedDocs(deduped, bench, "text", "doc_id", ngramN)
      .select(col("doc_id"))
    val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")

    // 5. deterministic per-language holdout carve; train = rest
    val holdout = Curation.hashStratifiedSample(clean, Seq("lang"), "doc_id",
      holdoutPerLang)
    val train = clean.join(holdout.select(col("doc_id")), Seq("doc_id"), "left_anti")

    // attrition report: docs surviving each stage (K6 report shape).
    // Count jobs run only when the report is acted on — the report frame
    // is as lazy as the rest of the pipeline.
    val attrition = Seq(
      ("0_input", docs), ("1_rule_gate", kept1), ("2_line_dedup", lineDeduped),
      ("3_fuzzy_dedup", deduped), ("4_decontaminated", clean),
      ("5_train", train)
    ).map { case (stage, df) =>
      df.agg(count(lit(1)).as("n")).select(lit(stage).as("stage"), col("n"))
    }.reduce(_ unionByName _)

    Result(train, holdout, rejected, attrition)
  }
}
