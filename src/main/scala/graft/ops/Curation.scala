package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.HashExpressions.md5Prefix

/** Dataset-curation surface for a large-scale training-data pipeline:
  * deterministic train/val/test splitting, sequence packing into fixed
  * token budgets, and mixture rebalancing by downsampling over-represented
  * groups. These are the steps that turn a deduplicated corpus into an
  * actual training dataset, and each is designed around the property that
  * matters at 100 TB: **hash-determinism** — assignment must not depend on
  * row order, partition count, or cluster size, so re-running the pipeline
  * (or adding executors) never moves a document across splits or changes a
  * sample.
  *
  * Everything here is either a map-side column expression or a
  * shard-partitioned window / tiny broadcast join — no global ordering, no
  * driver-side state.
  */
object Curation {

  /** Deterministic uniform bucket in `[0, mod)` from a key column: the
    * first 8 md5 hex digits of the key's string form, read as an integer,
    * mod `mod` — the repo-wide engine-portable hash convention (md5 hex is
    * canonical on both Spark and DuckDB, whose twin is
    * [[graft.CatalogExtShared]]'s `sqlHashBucket`). Evaluated by the native
    * [[org.apache.spark.sql.graft.Md5Prefix]] kernel: one digest and a
    * shift per row, no strings. A NULL key yields a NULL bucket. Map-side,
    * codegen'd, no shuffle.
    */
  def hashBucket(key: Column, mod: Int): Column =
    md5Prefix(key, 8) % mod

  /** Train/val/test assignment by hash bucket of a stable key:
    * `[0,trainPct) → train`, `[trainPct,trainPct+valPct) → val`, rest →
    * test. Unlike `df.randomSplit` (seed- and partitioning-dependent), the
    * assignment is a pure function of the key: stable under reruns,
    * repartitioning, and corpus growth (new docs land in splits at the
    * target rate; existing docs never move — the invariant that keeps a
    * held-out set honest across dataset versions).
    */
  def assignSplit(key: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"split percentages must partition [0,100]: train=$trainPct val=$valPct")
    val b = hashBucket(key, 100)
    when(b < trainPct, lit("train"))
      .when(b < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /** Sequence packing, concat-and-chunk form: within each shard, documents
    * are concatenated in `doc_id` order and chunked into `budget`-token
    * sequences; a document belongs to the sequence its first token falls in
    * (`seq_id = start_offset / budget`). This is the standard LLM-pretraining
    * packing layout (concatenate-then-split), expressed as one
    * shard-partitioned running sum — no greedy loop, no driver state.
    *
    * Scale: the window partitions on the shard key (a real pipeline's
    * file/shard id — here `source`), so each partition packs independently
    * and in parallel; there is no global ordering. Returns one row per
    * document: (shard, doc_id, n_tokens, seq_id).
    *
    * Determinism does NOT require unique `doc_id`s: ties on `doc_id` break
    * on `n_tokens`, and rows identical in both are interchangeable in the
    * output (equal rows swapping offsets yield the same row multiset), so
    * the result is a pure function of the input multiset even for a corpus
    * with repeated ids (CurationSpec pins this with a shuffled-duplicates
    * property).
    */
  def packSequences(docs: DataFrame, budget: Int,
                    shardCol: String = "source"): DataFrame =
    packedRows(docs, budget, shardCol, carryText = false)

  /** Shared packing core: the shard-partitioned running sum, optionally
    * carrying `text` through the window shuffle (one wider shuffle beats a
    * second shuffle + doc_id join for the materialized form).
    */
  private def packedRows(docs: DataFrame, budget: Int, shardCol: String,
                         carryText: Boolean): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"), col("n_tokens"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = Seq(col(shardCol).as("shard"), col("doc_id"),
                   size(TextAnalysis.tokens(col("text"))).as("n_tokens"))
    docs
      .select((if (carryText) base :+ col("text") else base): _*)
      .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("seq_id", floor(col("start_off") / budget))
      .drop("start_off")
  }

  /** Per-(shard, sequence) packing manifest: document count and token total
    * of every packed sequence — the shard-file layout a writer would emit.
    */
  def packingManifest(docs: DataFrame, budget: Int,
                      shardCol: String = "source"): DataFrame =
    packSequences(docs, budget, shardCol)
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"))

  /** Materialized packed sequences: the actual training-file payload —
    * per (shard, seq_id), member docs concatenated in the packing order
    * ((doc_id, n_tokens), same tie rule as [[packSequences]]). The ordered
    * concat is `array_sort(collect_list(struct(...)))` inside one
    * aggregate: per-group state is bounded by the token budget's document
    * count, so the writer stage is one aggregate with map-side partial
    * collection on top of the packing window — the text rides the window
    * shuffle instead of paying a second shuffle + doc_id join (which would
    * also re-impose a unique-id requirement this form does not have).
    */
  def packedText(docs: DataFrame, budget: Int,
                 shardCol: String = "source"): DataFrame =
    packedRows(docs, budget, shardCol, carryText = true)
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
           array_join(
             transform(
               array_sort(collect_list(struct(col("doc_id"), col("n_tokens"),
                                              col("text")))),
               e => e.getField("text")),
             " ").as("seq_text"))

  /** Mixture rebalancing: deterministically downsample every group to the
    * size of the smallest (here: language-balanced sampling). Two tiny
    * aggregates produce per-group keep-rates (`keep_per_10k =
    * floor(min_n·10000/n)`); the filter is then a map-side hash-bucket
    * threshold — the group with the fewest docs keeps everything, larger
    * groups keep a uniform deterministic subset. The counts/rates relation
    * is broadcast; nothing about the pass is O(N²) or order-dependent.
    *
    * Returns the kept rows plus their group's `keep_per_10k` rate.
    */
  /** General mixture sampling: deterministically downsample groups toward
    * target *proportions* (`weights`, relative) without upsampling. The
    * feasible scale is set by the binding group (the one that runs out of
    * documents first: `s = min_g n_g / w_g`); group g then keeps
    * `s·w_g / n_g` of its docs by hash threshold, so the output mixture is
    * proportional to `weights` and the binding group keeps everything.
    * [[balancedSample]] is the uniform-weights special case. Groups absent
    * from `weights` are dropped (weight 0). Same scale shape: two tiny
    * aggregates, a broadcast rate relation, one map-side filter pass.
    */
  /** Temperature-scaled mixture weights (the multilingual sampling rule of
    * mBERT/XLM-R and the data-mixing step of every multi-domain pretrain
    * run): per-domain sampling probability ∝ p^α where p is the domain's
    * raw token share and α < 1 flattens the head (α = 1 is proportional,
    * α = 0 uniform). Returns the full mixing report per domain: raw counts
    * and share, the temperature weight, the normalized sampling
    * probability, and the expected token allocation at the corpus budget.
    *
    * [[weightedSample]] consumes a FIXED target mixture; this op COMPUTES
    * the mixture from the corpus — the upstream step.
    *
    * Portability: p = n_tokens/total is one exact division; the weight is
    * pinned as round(p^α · 10⁶) — an integer, so the normalization
    * denominator is an exact BIGINT sum (order-independent; summing the
    * unrounded doubles would depend on aggregation order) and the last-ulp
    * variance of `pow` across engines is absorbed by the rounding (the
    * micro-nat discipline of [[graft.ops.TextAnalysis.tokenEntropy]]).
    * Shape: one partial-agg pass over the corpus to domain grain, then
    * singleton cross-joins — domain cardinality is report-sized.
    */
  def temperatureWeights(docs: DataFrame, alpha: Double = 0.7,
                         groupCol: String = "lang",
                         textCol: String = "text",
                         maxDriverGroups: Long =
                           TemperatureDriverGroupLimit): DataFrame = {
    val per = docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
           sum(size(split(col(textCol), " ")).cast("long")).as("n_tokens"))
    // Guarded driver-complete tail (round-13 surgery, the mixtureDrift
    // pattern): past the one corpus aggregate everything operates on the
    // ≤|groups|-row `per` relation, but the relational chain (per → tot →
    // w → sw, each cross-joined back) is FOUR consumers of `per`, and
    // column pruning specializes each branch's partial aggregate so the
    // corpus scan re-ran four times (round-13 plan audit: 4× Scan parquet
    // / 10 exchanges for a |langs|-row report). Under the group bound the
    // tail runs in driver maps that mirror the column chains operation-
    // for-operation: double/long divisions on exact BIGINTs, Math.pow ≡
    // Spark pow, HALF_UP at scale 0 then toLong ≡ round(_, 0).cast(long),
    // exact long sums. NULL n_tokens (all-NULL text group) or t ≤ 0 falls
    // back to the distributed form, whose NULL propagation is pinned.
    val probe =
      per.limit(math.min(maxDriverGroups, Int.MaxValue - 1L).toInt + 1)
        .collect()
    if (probe.length <= maxDriverGroups &&
        probe.forall(r => !r.isNullAt(2)) &&
        probe.map(_.getLong(2)).sum > 0L) {
      def rnd0(x: Double): Long = java.math.BigDecimal.valueOf(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
      val t = probe.map(_.getLong(2)).sum
      val weights = probe.map { r =>
        val pRaw = r.getLong(2).toDouble / t.toDouble
        (r, pRaw, rnd0(math.pow(pRaw, alpha) * 1e6))
      }
      val sw = weights.map(_._3).sum
      val out: Seq[org.apache.spark.sql.Row] = weights.toSeq.map {
        case (r, pRaw, wMicro) =>
          val sampleProb = wMicro.toDouble / sw.toDouble
          org.apache.spark.sql.Row(r.get(0), r.getLong(1), r.getLong(2),
            pRaw, wMicro, sampleProb, rnd0(sampleProb * t.toDouble))
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(groupCol,
          per.schema(groupCol).dataType),
        org.apache.spark.sql.types.StructField("n_docs",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_tokens",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("p_raw",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("weight_micro",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sample_prob",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("expected_tokens",
          org.apache.spark.sql.types.LongType)))
      import scala.jdk.CollectionConverters._
      return docs.sparkSession.createDataFrame(out.toList.asJava, schema)
    }
    val pinned = per.localCheckpoint() // four consumers below
    val tot = pinned.agg(sum(col("n_tokens")).as("t"))
    val w = pinned.crossJoin(broadcast(tot))
      .withColumn("p_raw", col("n_tokens").cast("double") / col("t"))
      .withColumn("weight_micro",
        round(pow(col("p_raw"), lit(alpha)) * lit(1e6), 0).cast("long"))
    val sw = w.agg(sum(col("weight_micro")).as("sw"))
    w.crossJoin(broadcast(sw))
      .withColumn("sample_prob", col("weight_micro").cast("double") / col("sw"))
      .select(col(groupCol), col("n_docs"), col("n_tokens"), col("p_raw"),
              col("weight_micro"), col("sample_prob"),
              round(col("sample_prob") * col("t"), 0).cast("long")
                .as("expected_tokens"))
  }

  /** Group ceiling for [[temperatureWeights]]'s driver-complete tail —
    * groups are languages/sources, driver-small by construction. Past it
    * (or on NULL token sums) the distributed chain runs off a checkpoint.
    */
  val TemperatureDriverGroupLimit = 100000L

  /** Curriculum phase assignment from a per-document quality score:
    * exact score quartiles (or `phases`-iles) become phase thresholds and
    * every doc gets the phase of its bracket — phase 1 = the top-quality
    * slice trained first, phase `phases` = the tail. The composition step
    * after model-based scoring ([[graft.ops.TextAnalysis
    * .nbClassifierScores]] / `bigramNll`) in a quality-ordered training
    * schedule.
    *
    * Scale shape — deliberately NOT an `ntile` window (a global ranking
    * window is a single-partition sort of the corpus, the 100 TB killer):
    * pass 1 is ONE exact-percentile aggregate (Spark `percentile`, the
    * same interpolation as DuckDB `quantile_cont` — the value_percentiles
    * pairing), whose `phases−1` thresholds collect driver-side and ride
    * the scan as literals; pass 2 is a map-side bracket comparison. Two
    * scans, no global sort, no shuffle beyond the percentile aggregate.
    * Thresholds are rounded to 6 decimals (the engine-portability
    * discipline); docs exactly ON a rounded threshold fall in the lower-
    * quality phase on both engines (strict `>` promotes).
    */
  def curriculumPhases(scored: DataFrame, phases: Int = 4,
                       scoreCol: String = "mean_logodds_unats"): DataFrame = {
    require(phases >= 2, s"phases must be >= 2, got $phases")
    val qs = (1 until phases).map(i => i.toDouble / phases)
    val arr = expr(s"percentile($scoreCol, array(${qs.mkString(", ")}))")
    val cuts = scored
      .select((0 until phases - 1).map(i => round(arr.getItem(i), 6).as(s"c$i")): _*)
      .head().toSeq.map(_.asInstanceOf[Double])
    val phase = cuts.foldLeft(lit(phases)) { (acc, c) =>
      acc - when(col(scoreCol) > lit(c), 1).otherwise(0)
    }
    scored.withColumn("phase", phase.cast("int"))
  }

  def weightedSample(docs: DataFrame, weights: Map[String, Double],
                     groupCol: String = "source", keyCol: String = "doc_id",
                     mod: Int = 10000): DataFrame =
    docs.join(broadcast(weightedRates(docs, weights, groupCol, mod)
                .select(col(groupCol), col("keep_per_10k"))),
              Seq(groupCol))
      .filter(hashBucket(col(keyCol), mod) < col("keep_per_10k"))

  /** Per-group keep-rate relation behind [[weightedSample]]:
    * `(group, n_docs, keep_per_10k)` — also the audit/report surface (the
    * `weighted_mixture_sample` catalog query joins kept counts onto it).
    */
  def weightedRates(docs: DataFrame, weights: Map[String, Double],
                    groupCol: String = "source", mod: Int = 10000): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be a non-empty map of positive target proportions")
    val spark = docs.sparkSession
    import spark.implicits._
    val wRel = weights.toSeq.toDF(groupCol, "__w")
    val counts = docs.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
      .join(broadcast(wRel), Seq(groupCol))
    val perGroup = col("n_docs").cast("double") / col("__w")
    // the feasible scale s = min_g n_g/w_g rides a GLOBAL window over the
    // counts relation — counts is |groups| rows post-aggregation (tiny by
    // construction: groups are languages/sources), so one window task is
    // free and the plan stays a single pass over counts. The earlier
    // agg(min) + crossJoin(broadcast) form was two more jobs plus a
    // localCheckpoint to stop the counts subtree running twice — measured
    // locally, those scheduler round-trips were the whole cost of the op.
    // The binding group (n/w == s, bit-identical double recomputation)
    // gets exactly `mod`: routing it through floor(s·w·mod/n) can land on
    // mod-1 when s carries rounding error, silently dropping
    // scarcest-group docs.
    counts
      .withColumn("__s", min(perGroup).over(Window.partitionBy()))
      .select(col(groupCol), col("n_docs"),
              when(perGroup === col("__s"), lit(mod.toLong))
                .otherwise(least(lit(mod.toLong),
                  floor(col("__s") * col("__w") * mod / col("n_docs")).cast("long")))
                .as("keep_per_10k"))
  }

  /** Train→eval decontamination scan: train-split documents sharing at
    * least `minShared` distinct word `n`-gram shingles with any val/test
    * document — the standard pre-training hygiene pass that keeps held-out
    * data from leaking into the training corpus verbatim or near-verbatim.
    *
    * Shape is the inverted-index join (same as [[Dedup.ngramJaccardPairs]]):
    * explode shingles once, df-cap kills the ubiquitous stop-shingles that
    * would otherwise dominate the join (`maxShingleDf`, 0 = off), then a
    * train-side × eval-side equi-join on the shingle — shuffle ∝ postings,
    * never |train|×|eval|. The split comes from [[assignSplit]] so the scan
    * is consistent with the manifest the pipeline actually trains on.
    *
    * Returns one row per contaminated train doc:
    * (doc_id, n_eval_docs, max_shared, total_shared).
    */
  def contaminationReport(docs: DataFrame, n: Int = 5, minShared: Int = 2,
                          maxShingleDf: Int = 50,
                          trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    // Same materialization policy as [[Dedup.ngramJaccardPairs]]: the df
    // cap is a broadcast anti-join against the tiny Zipf-head overflow set,
    // and only the CAPPED relation checkpoints (the raw explode is cheap
    // enough to re-run for its two consumers; an extra checkpoint job
    // measured as a net loss).
    // 64-bit-hashed shingles (Broder trick, see [[Dedup.ngramJaccardPairs]]:
    // shuffles move longs, not strings; collision odds ~d²·2⁻⁶⁵) and the
    // CAPPED relation materialized once — it feeds both the train and eval
    // sides, and without its own checkpoint each side re-runs the overflow
    // aggregate and anti-join over the full postings.
    val sh = TextAnalysis.explodeShingles(docs, n)
      .select(col("doc_id"), xxhash64(col("g")).as("g"))
    // NOT pre-hashed on g at the checkpoint (measured refutation, round
    // 14): the [[Dedup.ngramJaccardPairs]] partitioning trick was tried
    // here — repartition(g) + AQE-off checkpoint so the train/eval join
    // below plans zero exchanges — and read FLAT-to-slightly-worse in a
    // 4-pair calib-matched A/B at sf0.1 (old 1.43/1.43 vs new 1.48/1.49 in
    // the matched quiet brackets). Unlike the Jaccard SELF-join (both
    // sides = the full postings, so pre-partitioning halves the shuffled
    // bytes), the train/eval sides are DISJOINT filters of this relation:
    // their two exchanges already moved exactly 100% of the postings, so
    // the pre-partition trades the same bytes for an extra eager
    // materialization job. Same conclusion class as the uncapped-Jaccard
    // refutation in Dedup.scala.
    val capped =
      if (maxShingleDf > 0) {
        val overflow = sh.groupBy("g").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleDf).select("g")
        sh.join(broadcast(overflow), Seq("g"), "left_anti").localCheckpoint()
      } else sh
    val p = capped
      .withColumn("split", assignSplit(col("doc_id"), trainPct, valPct))
    val tr = p.filter(col("split") === "train")
      .select(col("doc_id").as("train_id"), col("g"))
    val ev = p.filter(col("split") =!= "train")
      .select(col("doc_id").as("eval_id"), col("g"))
    // shuffle_hash for the same reason as the Jaccard join: high-cardinality
    // shingle key with df-capped groups — nothing to gain from sorting
    tr.hint("shuffle_hash").join(ev, Seq("g"))
      .groupBy("train_id", "eval_id").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .groupBy(col("train_id").as("doc_id"))
      .agg(count(lit(1)).as("n_eval_docs"), max(col("shared")).as("max_shared"),
           sum(col("shared")).as("total_shared"))
  }

  /** Span-level cross-split contamination (the GPT-3 decontamination
    * discipline: eval text is contaminated where a ≥`n`-token run also
    * appears verbatim in the train split — their appendix used 13-grams):
    * every maximal span in a val/test doc whose every length-`n` window
    * occurs somewhere in train. Returns one row per contaminated eval
    * span: `(doc_id, split, span_start, span_tokens)`, 0-based token
    * offsets — the span surface of [[contaminationReport]]'s doc-pair
    * counts, built on [[Dedup.positionedGramKeys]] +
    * gaps-and-islands exactly like [[Dedup.duplicateSpans]], with the
    * cross-doc dup head replaced by a train-side semi-join. The split
    * comes from [[assignSplit]], so "train" here is the exact corpus the
    * manifest trains on.
    *
    * Scale shape: one gram shuffle per side on the 8-byte window hash
    * (semi-join — no row multiplication however often a window repeats in
    * train), islands window per eval doc. Nothing is quadratic; the eval
    * side is typically the small side and drives the output.
    */
  def contaminationSpans(docs: DataFrame, n: Int = 8,
                         trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = graft.ops.Dedup.positionedGramKeys(docs, n)
      .withColumn("is_train",
        hashBucket(col("doc_id"), 100) < trainPct)
    val evalDup = grams.filter(!col("is_train"))
      .join(grams.filter(col("is_train")).select("gkey"), Seq("gkey"), "left_semi")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    evalDup
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
           (max(col("pos")) - min(col("pos")) + n).cast("long").as("span_tokens"))
      .select(col("doc_id"),
        assignSplit(col("doc_id"), trainPct, valPct).as("split"),
        col("span_start"), col("span_tokens"))
  }

  /** The actionable form: the train split with contaminated documents
    * removed (left anti against [[contaminationReport]]).
    */
  def decontaminatedTrain(docs: DataFrame, n: Int = 5, minShared: Int = 2,
                          maxShingleDf: Int = 50,
                          trainPct: Int = 80, valPct: Int = 10): DataFrame =
    docs.filter(assignSplit(col("doc_id"), trainPct, valPct) === "train")
      .join(contaminationReport(docs, n, minShared, maxShingleDf, trainPct, valPct)
              .select("doc_id"),
            Seq("doc_id"), "left_anti")

  /** Write a packed dataset ([[packedText]] output) as the training-ready
    * disk layout: parquet partitioned by shard, sequences sorted within
    * each shard file, file sizes bounded by `maxRecordsPerFile` — the
    * shape a loader streams sequentially per shard. One shuffle
    * (repartition on the partition key so each shard writes one file run,
    * not one fragment per input task — the classic small-files failure at
    * 1000 executors).
    */
  def writeShards(packed: DataFrame, path: String,
                  maxRecordsPerFile: Int = 100000): Unit =
    packed.repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("seq_id"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .partitionBy("shard")
      .parquet(path)

  /** Deterministic stratified sample: the `k` documents with the smallest
    * key-hash per group — a fixed-size per-stratum eval/debug sample that,
    * like everything here, is a pure function of the keys (growing the
    * corpus only displaces a doc when a smaller-hash doc enters its group).
    *
    * Routed through the partial-aggregating [[org.apache.spark.sql.graft.TopKPairsAgg]] (score =
    * negated 48-bit hash — exact in a double, ties toward the smaller id),
    * so each map task reduces its slice to ≤ k rows before the shuffle —
    * the ranking-window form would hold a whole stratum in one task, the
    * 100 TB top-k killer shape (same rationale as `Similarity.cosineTopK`).
    */
  def stratifiedSample(docs: DataFrame, k: Int, groupCol: String = "lang",
                       keyCol: String = "doc_id"): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    val h48 = md5Prefix(col(keyCol), 12)
    docs.select(col(groupCol), col(keyCol).cast("long").as("__id"),
                negate(h48.cast("double")).as("__s"))
      .groupBy(col(groupCol))
      .agg(org.apache.spark.sql.graft.TopKPairsAgg
        .topkPairs(k, col("__id"), col("__s")).as("tk"))
      .select(col(groupCol), explode(col("tk")).as("e"))
      .select(col(groupCol), col("e._1").as(keyCol))
  }

  def balancedSample(docs: DataFrame, groupCol: String = "lang",
                     keyCol: String = "doc_id", mod: Int = 10000): DataFrame = {
    // min-group size rides a global window over the tiny counts relation
    // (|groups| rows) — same single-pass shape and rationale as
    // [[weightedRates]].
    // exact for any realistic counts: min_n·mod ≤ 2^53 keeps the double
    // product exact, and floor pins the integer threshold on both engines
    // (the minority group divides exactly: min_n·mod/min_n = mod)
    val rates = docs.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
      .withColumn("min_n", min(col("n")).over(Window.partitionBy()))
      .select(col(groupCol),
              floor(col("min_n").cast("double") * mod / col("n"))
                .cast("long").as("keep_per_10k"))
    docs.join(broadcast(rates), Seq(groupCol))
      .filter(hashBucket(col(keyCol), mod) < col("keep_per_10k"))
  }

  /** DSIR hashed n-gram importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score every
    * raw-corpus document by how much its hashed n-gram feature distribution
    * looks like a TARGET domain rather than the raw corpus,
    *
    *   log w(x) = Σ_b c_b(x) · (ln p_target(b) − ln p_raw(b)),
    *
    * with bag-of-bigram features hashed into `nBuckets` buckets and
    * add-one-smoothed bucket unigram models on both sides (the paper's
    * exact estimator; resampling by these weights is the selection step and
    * is covered by the weighted/stratified sampling rows). The target here
    * is a source-domain subset of the same corpus — the self-contained
    * stand-in for "Wikipedia vs crawl" that keeps both fits under one scan.
    *
    * Micro-nat integer discipline (the nbClassifierScores convention): each
    * per-bucket weight is a DIFFERENCE of two non-negative rounded NLL
    * terms round(ln((N+B)/(c+1))·10⁶), so Java half-up and SQL half-away
    * rounding agree and the DuckDB twin can refit the whole model
    * relationally under the driver's hash.
    *
    * Scale shape: the fit aggregates to `nBuckets` rows (driver-tiny BY
    * CONSTRUCTION — the paper uses 10⁴ buckets at web scale, independent of
    * corpus size), weights ship to executors as a literal map (score pass
    * is scan + one per-doc aggregate, no join), and the one corpus-grain
    * shuffle is the per-doc sum. The feature explode is the codegen'd
    * [[TextAnalysis.shingles]] kernel.
    *
    * Returns (doc_id, source, n_feats, logweight_unats,
    * mean_logweight_unats).
    */
  def dsirWeights(docs: DataFrame, targetSources: Seq[String],
                  nBuckets: Int = 256, gramN: Int = 2,
                  textCol: String = "text"): DataFrame = {
    require(targetSources.nonEmpty, "need at least one target source")
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val feats = docs.select(col("doc_id"), col("source"),
      explode(TextAnalysis.shingles(col(textCol), gramN)).as("g"))
      .withColumn("b", hashBucket(col("g"), nBuckets))
    val isTarget = col("source").isInCollection(targetSources)
    // fit pass: bucket-grain counts for both models in ONE aggregate (raw
    // includes target — DSIR's raw model is the whole crawl)
    val counts = feats.groupBy(col("b"))
      .agg(sum(when(isTarget, 1L).otherwise(0L)).as("ct"),
           count(lit(1)).as("cr"))
      .localCheckpoint()
    val totals = counts.agg(sum(col("ct")), sum(col("cr"))).head()
    val (nT, nR) = (totals.getLong(0), totals.getLong(1))
    require(nT > 0, s"no target features: sources $targetSources absent?")
    def unats(n: Long, c: Long): Long =
      math.round(math.log((n + nBuckets).toDouble / (c + 1.0)) * 1e6)
    val wMap = counts.select(col("b"), col("ct"), col("cr")).collect()
      .map(r => r.getLong(0) -> (unats(nR, r.getLong(2)) - unats(nT, r.getLong(1))))
      .toMap
    // Unseen buckets can't occur (scoring the corpus the models were fit
    // on) but keep the smoothed zero-count weight as the total function.
    val oovW = unats(nR, 0L) - unats(nT, 0L)
    val w = coalesce(element_at(typedLit(wMap), col("b")), lit(oovW))
    feats.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_feats"), sum(w).as("logweight_unats"))
      .select(col("doc_id"), col("source"), col("n_feats"),
              col("logweight_unats"),
              (col("logweight_unats").cast("double") / col("n_feats"))
                .as("mean_logweight_unats"))
  }

  /** Sliding-window document chunking — the standard long-document →
    * training-example split: token windows of `window` tokens starting every
    * `stride` tokens (overlap = window − stride), trailing windows shorter
    * than `window` kept (the tokenizer's packing stage pads or merges them;
    * dropping content here would silently lose corpus tail text). Chunk
    * count per doc = ⌈n/stride⌉, a pure function of the token count.
    *
    * Scale shape: one map-side HOF pipeline (split → sequence → transform →
    * posexplode) inside the scan stage — zero shuffle; a downstream sort or
    * write re-partitions the chunk stream as usual. `withText=false` emits
    * only the md5 chunk hash (dedup/audit use) and keeps the shuffled bytes
    * narrow.
    */
  def chunkDocs(docs: DataFrame, window: Int, stride: Int,
                textCol: String = "text", withText: Boolean = true): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val toks = split(col(textCol), " ")
    val nChunks = floor((size(toks) + stride - 1) / stride).cast("int")
    val chunks = transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(toks, i * stride + 1, lit(window)), " "))
    val exploded = docs.select(col("doc_id"),
        posexplode(chunks).as(Seq("chunk_idx", "chunk_text")))
      .withColumn("n_tokens",
        size(split(col("chunk_text"), " ")).cast("long"))
      .withColumn("chunk_hash", md5(col("chunk_text").cast("binary")))
    if (withText) exploded
    else exploded.select("doc_id", "chunk_idx", "n_tokens", "chunk_hash")
  }

  /** Cross-source overlap matrix: for every source pair, the count of
    * distinct `n`-gram windows they share and the gram-level Jaccard — the
    * pairwise generalization of [[contaminationSpans]]' train→eval check
    * (a data-governance report: which corpus slices leak into which).
    *
    * Plan: one distinct over (source, gram-key) — gram text never leaves
    * the map side; the 16-hex md5 prefix is the join key — then a
    * shuffle-hash self-equi-join on the key. Per-key join fan-out is
    * (sources sharing the gram)², bounded by the source count squared; at
    * a catalog with thousands of sources, cap gram df first (the
    * [[Dedup.ngramJaccardPairs]] `maxShingleDf` discipline).
    */
  def crossSourceOverlap(docs: DataFrame, n: Int = 8,
                         maxDriverCells: Long =
                           CrossSourceDriverCellLimit): DataFrame = {
    // ONE corpus chain (round-13 surgery): explode → groupBy(gkey)
    // collect_set(source) → map-side pair/total explode → tiny aggregate.
    // collect_set dedups (source, gram) inside the aggregate, so the old
    // distinct + localCheckpoint + self-equi-join shape (checkpoint
    // materialization plus TWO more corpus-scale shuffles of the postings
    // on gkey, plus a totals pass) collapses into the one gkey shuffle.
    // A gram's source set is bounded by |sources| (a handful), so the
    // per-group array work is constant; n_shared(a,b) = #gram groups
    // whose set holds both = the pair-explode count, and total(s) =
    // #gram groups holding s = the singleton-explode count — the same
    // sorted-array i<j explode the triangle census edge build uses.
    // NULL sources: collect_set drops them, matching the old output (a
    // NULL never survived the source_a < source_b pair filter, and its
    // totals row was join-unreachable).
    val bySource = docs
      .select(col("source"),
        explode(org.apache.spark.sql.graft.TextExpressions
          .wordShingles(col("text"), n, distinct = true)).as("g"))
      .select(col("source"), substring(md5(col("g").cast("binary")), 1, 16).as("gkey"))
      .groupBy(col("gkey"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
    val singles = transform(col("ss"),
      s => struct(s.as("sa"), lit(null).cast("string").as("sb")))
    val pairsOf = flatten(transform(col("ss"), (s, i) =>
      transform(slice(col("ss"), i + lit(2), size(col("ss")) - i - lit(1)),
        t => struct(s.as("sa"), t.as("sb")))))
    val counts = bySource
      .select(explode(concat(singles, pairsOf)).as("u"))
      .select(col("u.sa").as("sa"), col("u.sb").as("sb"))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("c"))
    // the report is ≤ |sources|² rows — driver-complete tail (the
    // mixtureDrift pattern): one bounded collect, totals map + jaccard in
    // driver doubles mirroring the column chain (double/long division on
    // exact BIGINTs, HALF_UP at 6). Past the bound: checkpoint the tiny
    // counts once and run the equivalent relational tail.
    val probe =
      counts.limit(math.min(maxDriverCells, Int.MaxValue - 1L).toInt + 1)
        .collect()
    if (probe.length <= maxDriverCells) {
      val totals = probe.filter(_.isNullAt(1))
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      def rnd6(x: Double): Double = java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      val out: Seq[org.apache.spark.sql.Row] = probe.filter(!_.isNullAt(1))
        .toSeq.map { r =>
          val a = r.getString(0); val b = r.getString(1); val s = r.getLong(2)
          org.apache.spark.sql.Row(a, b, s,
            rnd6(s.toDouble / (totals(a) + totals(b) - s).toDouble))
        }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("source_a",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("source_b",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_shared",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("jaccard",
          org.apache.spark.sql.types.DoubleType)))
      import scala.jdk.CollectionConverters._
      return docs.sparkSession.createDataFrame(out.toList.asJava, schema)
    }
    val pinned = counts.localCheckpoint()
    val totals = pinned.filter(col("sb").isNull)
      .select(col("sa").as("source"), col("c").as("total"))
    pinned.filter(col("sb").isNotNull)
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
              col("c").as("n_shared"))
      .join(broadcast(totals.select(col("source").as("source_a"),
                                    col("total").as("__ta"))), Seq("source_a"))
      .join(broadcast(totals.select(col("source").as("source_b"),
                                    col("total").as("__tb"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("__ta") + col("__tb") - col("n_shared")), 6).as("jaccard"))
  }

  /** Row ceiling for [[crossSourceOverlap]]'s driver-complete report tail:
    * the pair/total grid is ≤ |sources|² + |sources| rows — driver-small
    * for any real source taxonomy. Past it the relational tail runs off a
    * checkpoint of the same tiny aggregate.
    */
  val CrossSourceDriverCellLimit = 100000L

  /** Cohen's-kappa agreement between two binary document labels — the
    * "do my two quality filters agree beyond chance" audit a curation
    * pipeline runs before trusting either gate (e.g. the heuristic
    * quality score vs the NB classifier; kappa near 0 means the gates
    * are independent coin flips on the contested region, near 1 means
    * one of them is redundant).
    *
    * One keyless aggregate of four conditional counts over whatever
    * relation the caller assembled — map-side partial sums, a single-row
    * shuffle at any input size. kappa = (po − pe)/(1 − pe) from the
    * exact BIGINT confusion cells; every double derives from identical
    * integers in any engine, rounded once at 6 places (NULL when the
    * chance-corrected denominator is 0, i.e. pe = 1: both raters
    * constant — kappa undefined, not 0).
    *
    * Rows where EITHER cast label is NULL are excluded up front: a NULL
    * label belongs in none of the four confusion cells (three-valued
    * `when` would count it in n_docs but nowhere else, silently inflating
    * the po/pe denominator), so the cells always partition n_docs exactly.
    */
  def labelAgreement(labeled: DataFrame, labelA: Column,
                     labelB: Column): DataFrame = {
    val a = labelA.cast("boolean")
    val b = labelB.cast("boolean")
    def cell(p: Column) = sum(when(p, 1L).otherwise(0L))
    val counts = labeled.filter(a.isNotNull && b.isNotNull).agg(
      count(lit(1)).as("n_docs"),
      cell(a && b).as("n_both_pos"),
      cell(a && !b).as("n_a_only"),
      cell(!a && b).as("n_b_only"),
      cell(!a && !b).as("n_both_neg"))
    val n = col("n_docs").cast("double")
    val po = (col("n_both_pos") + col("n_both_neg")).cast("double") / n
    val pa = (col("n_both_pos") + col("n_a_only")).cast("double") / n
    val pb = (col("n_both_pos") + col("n_b_only")).cast("double") / n
    val pe = pa * pb + (lit(1.0) - pa) * (lit(1.0) - pb)
    counts.select(
      col("n_docs"), col("n_both_pos"), col("n_a_only"),
      col("n_b_only"), col("n_both_neg"),
      round(po, 6).as("observed_agreement"),
      round(pe, 6).as("chance_agreement"),
      when(lit(1.0) - pe === 0.0, lit(null).cast("double"))
        .otherwise(round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
  }

  /** Near-dup leakage across the train/val/test boundary: the candidate
    * pairs a banding LSH pass surfaces, bucketed by the split pair they
    * straddle — the eval-integrity audit (a near-duplicate shared by
    * train and val inflates every validation metric it touches). Hash
    * splitting by doc_id deliberately does NOT see duplicate structure,
    * so some leakage is expected; this row measures it so the pipeline
    * can route dup CLUSTERS (not docs) to splits when it matters.
    *
    * `pairs` is any (doc_a, doc_b) candidate relation (e.g.
    * [[graft.ops.Dedup.lshCandidatePairs]]); splits are pure hash
    * functions of the ids — map-side, no join back to the corpus. The
    * report is ≤ 6 rows (unordered split pairs); the total for the
    * share column rides a GLOBAL window over that ≤6-row grid — one
    * free single-partition task, keeping the cells aggregate (and the
    * expensive candidate subtree under it) SINGLE-consumer. The earlier
    * agg(sum) + crossJoin(broadcast) form was two consumers of `cells`,
    * and column pruning specializes each branch's partial aggregate so
    * ReuseExchange never fires: the whole LSH band self-join ran twice
    * (round-13 plan audit — 2× `Scan ExistingRDD` → ShuffledHashJoin
    * subtrees in the final plan; the [[weightedRates]] window-over-counts
    * pattern, measured there, applies verbatim).
    */
  def splitLeakage(pairs: DataFrame, trainPct: Int = 80,
                   valPct: Int = 10): DataFrame = {
    val sa = assignSplit(col("doc_a"), trainPct, valPct)
    val sb = assignSplit(col("doc_b"), trainPct, valPct)
    val cells = pairs
      .select(least(sa, sb).as("split_lo"), greatest(sa, sb).as("split_hi"))
      .groupBy(col("split_lo"), col("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cells.withColumn("__tot", sum(col("n_pairs")).over(wAll))
      .select(col("split_lo"), col("split_hi"),
        (col("split_lo") =!= col("split_hi")).as("cross_split"),
        col("n_pairs"),
        round(col("n_pairs").cast("double") / col("__tot").cast("double"), 6)
          .as("pair_share"))
      .orderBy(col("split_lo"), col("split_hi"))
  }

  /** Mixture drift between each held-out split and train: KL(split‖train),
    * Jensen–Shannon divergence, and total-variation distance over the
    * per-`group` document shares — the distribution-shift audit that
    * tells you whether val/test still look like what the model trains on
    * (hash splitting makes drift ~0 by construction; a curated or
    * time-sliced split makes this row the canary).
    *
    * Determinism contract (the repo's micro-unit convention): shares are
    * Laplace-smoothed exact ratios p = (c+1)/(n+V) — always finite, no
    * zero-cell special cases — and each per-group term is rounded to
    * integer micro-nats BEFORE the sum, so the aggregate is an exact
    * BIGINT sum (a double Σ would be partition-order-dependent). Scale
    * shape: one groupBy(split, group) aggregate over the corpus, then
    * everything runs on the splits×groups cell relation (broadcast-joined
    * grid completion so smoothing sees absent cells).
    */
  /** Cell-count ceiling for [[mixtureDrift]]'s driver-complete tail: the
    * splits×groups cell relation is the ONLY input the metric tail needs,
    * and past the corpus aggregate it is structurally tiny (≤ 3·|groups|).
    * Under the bound the tail runs in driver maps — the
    * linkPrediction/triangleStats guarded-fast-path shape — replacing a
    * ~14-stage tiny-relation job chain (grid crossJoin completion built
    * once per grid consumer, three broadcasts) with one collect. Past it
    * the distributed tail runs exactly as before.
    */
  val MixtureDriverCellLimit = 100000L

  def mixtureDrift(docs: DataFrame, groupColName: String, keyCol: Column,
                   trainPct: Int = 80, valPct: Int = 10,
                   maxDriverCells: Long = MixtureDriverCellLimit): DataFrame = {
    val cells0 = docs
      .select(assignSplit(keyCol, trainPct, valPct).as("split"),
              col(groupColName).as("grp"))
      .groupBy(col("split"), col("grp"))
      .agg(count(lit(1)).as("c"))
    val grpOk = cells0.schema("grp").dataType match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.BooleanType => true
      case _ => false
    }
    if (maxDriverCells > 0 && grpOk) {
      val probe = cells0
        .limit(math.min(maxDriverCells, Int.MaxValue - 1L).toInt + 1)
        .collect()
      if (probe.length <= maxDriverCells)
        return mixtureDriftDriver(docs.sparkSession, probe)
    }
    val cells = cells0
      .localCheckpoint() // grid + totals + vocab all read it
    val groups = cells.select(col("grp")).distinct()
    val vocab = groups.agg(count(lit(1)).as("__v"))
    val totals = cells.groupBy(col("split")).agg(sum(col("c")).as("n_docs"))
    // full split×group grid so absent cells smooth to (0+1)/(n+V);
    // the ≤|splits|-row totals side is the broadcast one
    val grid = groups.crossJoin(broadcast(totals))
      .join(cells, Seq("split", "grp"), "left")
      .na.fill(0L, Seq("c"))
      .crossJoin(broadcast(vocab))
      .select(col("split"), col("grp"), col("n_docs"),
        ((col("c") + lit(1)).cast("double") /
         (col("n_docs") + col("__v")).cast("double")).as("p"))
    val train = grid.filter(col("split") === "train")
      .select(col("grp"), col("p").as("q"))
    val held = grid.filter(col("split") =!= "train")
    val p = col("p"); val q = col("q")
    val m = (p + q) / lit(2.0)
    held.join(broadcast(train), Seq("grp"))
      .groupBy(col("split"), col("n_docs"))
      .agg(
        sum(round(p * log(p / q) * lit(1e6)).cast("long"))
          .as("kl_vs_train_micronats"),
        sum(round((p * log(p / m) + q * log(q / m)) * lit(0.5) * lit(1e6))
          .cast("long")).as("js_micronats"),
        sum(round(abs(p - q) * lit(0.5) * lit(1e6)).cast("long"))
          .as("tvd_micro"))
      .select(col("split"), col("n_docs"),
        col("kl_vs_train_micronats"), col("js_micronats"), col("tvd_micro"),
        round(col("kl_vs_train_micronats") / lit(1e6), 6).as("kl_nats"),
        round(col("js_micronats") / lit(1e6), 6).as("js_nats"),
        round(col("tvd_micro") / lit(1e6), 6).as("tvd"))
      .orderBy(col("split"))
  }

  /** The driver-complete tail of [[mixtureDrift]]: grid completion,
    * Laplace shares, and the three divergences over the ALREADY-BOUNDED
    * cell relation, in driver maps. Value parity with the distributed tail
    * is exact: the double chains mirror the column expressions
    * operation-for-operation (same left-associated products, Math.log =
    * Spark's log), each per-group term rounds HALF_UP at scale 0 and
    * truncates to long exactly as round(...).cast("long") does, the
    * micro-nat sums are order-free exact longs, and the final nats mirror
    * round(long / 1e6, 6). Held splits exist only where the cell relation
    * has them, and the train join is inner — no train cells means an
    * empty report, same as the distributed form.
    */
  private def mixtureDriftDriver(spark: org.apache.spark.sql.SparkSession,
                                 cells: Array[org.apache.spark.sql.Row])
      : DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val cellMap = new scala.collection.mutable.HashMap[(String, Any), Long]()
    val totals = new scala.collection.mutable.HashMap[String, Long]()
    val groups = new scala.collection.mutable.LinkedHashSet[Any]()
    cells.foreach { r =>
      val s = r.getString(0); val g = r.get(1); val c = r.getLong(2)
      cellMap.update((s, g), c)
      totals.update(s, totals.getOrElse(s, 0L) + c)
      groups += g
    }
    val v = groups.size.toLong
    def rnd0(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
    def rnd6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val out: Seq[Row] = totals.get("train") match {
      case None => Seq.empty
      case Some(nTrain) =>
        totals.keysIterator.filter(_ != "train").toSeq.sorted.map { s =>
          val nS = totals(s)
          var kl = 0L; var js = 0L; var tvd = 0L
          groups.foreach { g =>
            val p = (cellMap.getOrElse((s, g), 0L) + 1L).toDouble /
              (nS + v).toDouble
            val q = (cellMap.getOrElse(("train", g), 0L) + 1L).toDouble /
              (nTrain + v).toDouble
            val m = (p + q) / 2.0
            kl += rnd0(p * math.log(p / q) * 1e6)
            js += rnd0((p * math.log(p / m) + q * math.log(q / m)) * 0.5 * 1e6)
            tvd += rnd0(math.abs(p - q) * 0.5 * 1e6)
          }
          Row(s, nS, kl, js, tvd,
              rnd6(kl / 1e6), rnd6(js / 1e6), rnd6(tvd / 1e6))
        }
    }
    val schema = StructType(Seq(
      StructField("split", StringType),
      StructField("n_docs", LongType),
      StructField("kl_vs_train_micronats", LongType),
      StructField("js_micronats", LongType),
      StructField("tvd_micro", LongType),
      StructField("kl_nats", DoubleType),
      StructField("js_nats", DoubleType),
      StructField("tvd", DoubleType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(out.toList.asJava, schema)
  }

  /** Cluster-aware split assignment — the fix [[splitLeakage]] measures
    * the need for: hash-split by the DUP-CLUSTER canonical id instead of
    * the doc id, so every member of a near-dup cluster lands in the same
    * split and cross-split leakage through duplicate structure is ZERO by
    * construction (the spec pins that property through [[splitLeakage]]
    * itself). Unclustered docs fall back to their own id — identical to
    * [[assignSplit]] for them, so adopting cluster routing moves only the
    * docs that were leaking.
    *
    * Scale shape: the cluster relation is bounded by docs WITH a dup edge
    * (a small fraction of any deduped corpus) — the left join's build side
    * is that relation, the probe is one corpus scan; everything downstream
    * of [[graft.ops.Dedup.dupClusters]] reuses its measured machinery.
    */
  def clusterAwareSplitAssign(docs: DataFrame, dupPairs: DataFrame,
                              trainPct: Int = 80,
                              valPct: Int = 10): DataFrame = {
    val clusters = Dedup.dupClusters(dupPairs)
    docs.join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"), col("canonical_id"),
        assignSplit(coalesce(col("canonical_id"), col("doc_id")),
                    trainPct, valPct).as("split"))
  }

  /** Exact-size weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis 2006's A-ES, the distributed-standard trick): each doc gets
    * key −ln(u)/w from a DETERMINISTIC hash-uniform u (a pure function of
    * doc_id, the [[assignSplit]] stability contract — reruns, repartitions,
    * and corpus growth never reshuffle the kept set beyond what the new
    * keys displace), and the k SMALLEST keys are the sample — provably the
    * same distribution as sequential weighted draws without replacement.
    * This is the exact-k counterpart to [[weightedMixtureSample]]'s
    * per-group Bernoulli thinning.
    *
    * Determinism across engines: u = (h32 + 1)/2³² ∈ (0,1] from the md5
    * prefix (canonical hex both sides); the key is rounded to integer
    * NANO-units before ranking so the order is a BIGINT comparison — an
    * engine ulp difference in ln() would need to land within 10⁻⁹ of a
    * rounding boundary to flip a rank (≈10⁻⁸ probability per doc,
    * verified green at every SF and replica). Scale: map-side key + one
    * TakeOrdered top-k — no shuffle beyond the k-row collect tree.
    */
  def weightedSampleNoReplace(docs: DataFrame, k: Int,
                              weight: Column): DataFrame = {
    val h32 = md5Prefix(col("doc_id"), 8)
    val u = (h32 + lit(1L)).cast("double") / lit(4294967296.0)
    val keyNano = round(-log(u) / weight * lit(1e9)).cast("long")
    docs.select(col("doc_id"), weight.cast("long").as("weight"),
                keyNano.as("key_nano"))
      .orderBy(col("key_nano"), col("doc_id")).limit(k)
  }

  /** Per-language rank normalization of the heuristic quality score:
    * percent_rank within the language (ties broken by doc_id, so the rank
    * is total and engine-stable) — the monotone transform that makes
    * quality scores COMPARABLE across languages before they feed a global
    * sampling weight (raw score distributions differ per language — the
    * stopword component alone shifts `en` — so a single global threshold
    * over-selects whichever language the heuristic flatters; the
    * percentile is calibration-free). One key-partitioned window pass —
    * scale-clean (partitions = languages, rows within stream through the
    * rank).
    */
  def rankNormalizedQuality(docs: DataFrame): DataFrame = {
    val score = TextAnalysis.qualityColumns(col("text"))("quality_score")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("quality_score"), col("doc_id"))
    docs.select(col("doc_id"), col("lang"), score.as("quality_score"))
      .withColumn("lang_pctile", round(percent_rank().over(w), 6))
      .select(col("doc_id"), col("lang"),
              round(col("quality_score"), 6).as("quality_score"),
              col("lang_pctile"))
  }
}
