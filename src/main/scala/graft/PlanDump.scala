package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.spark.{ExtractJob, PagesGen}

/** Dumps formatted physical plans of the key operators to PLANS.md —
  * evidence that the plans are the ones we want (pruned scans,
  * broadcast joins, no stray shuffles), not just the first that ran. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.01"
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the key operators\n\n")
    sb.append("Generated by `runMain graft.PlanDump` at sf0.01. What to look for\n")
    sb.append("is annotated per plan; regenerate after planner-relevant changes.\n")

    def dump(title: String, note: String, df: org.apache.spark.sql.DataFrame): Unit = {
      sb.append(s"\n## $title\n\n$note\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      sb.append("```\n")
    }

    // extraction: scan-local, pruned to (url, html)
    val pagesDir = "/tmp/graft_plan_pages"
    PagesGen.writeBucketed(PagesGen.generate(spark, 200, 42L, 4), pagesDir, 8)
    val pages = spark.read.parquet(pagesDir)
    dump("Extraction job (normal tier scan-local + salted heavy tier)",
      "Check: ReadSchema lists only url+html; normal tier has NO Exchange; " +
      "heavy tier goes through one hash Exchange on __salt.",
      ExtractJob.extract(pages, ExtractJob.Config()).toDF())

    dump("q2 broadcast join",
      "Check: BroadcastHashJoin with BuildRight on customer (dim side), no SortMergeJoin.",
      SparkEntry.queries("q2_join_broadcast")(spark, dir))

    dump("q3 anti-join (resume shape)",
      "Check: BroadcastHashJoin LeftAnti.",
      SparkEntry.queries("q3_antijoin")(spark, dir))

    dump("MinHash LSH near-dup",
      "Check: ONE signature MapPartitions (7) inside a persisted InMemoryRelation — " +
      "every consumer reads InMemoryTableScan, so signatures are computed once from " +
      "the raw text (round 1 recomputed them 4x). There is NO FORCED broadcast() of " +
      "the signature table anymore (round-1 scale-killer): the re-join is hint-free, " +
      "so the BroadcastExchanges below are the optimizer's size-based choice at " +
      "sf0.01 (sig ≈ 250 KB) and flip to shuffle joins when the table outgrows " +
      "spark.sql.autoBroadcastJoinThreshold at corpus scale.",
      SparkEntry.queries("dedup_minhash_lsh")(spark, dir))

    dump("Embedding near-dup (LSH scale path)",
      "Check: no driver collect / no full-table broadcast; bucket equi-join on " +
      "(table, sig) with a window cap, then id-keyed joins feed the exact-cosine " +
      "MapPartitions kernel.",
      SparkEntry.queries("dedup_embedding")(spark, dir))

    dump("Jaccard pairs (prefix-filtered + PPJoin length/positional filters)",
      "Check: candidate generation joins only the per-doc PREFIX tokens (rarest " +
      "p = sz - ceil(t*sz) + 1) inside (lang, source) blocks, and the join " +
      "condition carries the PPJoin length filter (t <= min(sz)/max(sz)) and " +
      "positional filter (prefix-match position bounds the residual overlap " +
      "against alpha = ceil(t/(1+t)*(sz_a+sz_b))) — both prune INSIDE the join, " +
      "before the distinct, which is where hot-vocabulary corpora blow up. " +
      "Exact verify is an array_intersect over the small candidate set, not a " +
      "full token join.",
      SparkEntry.queries("dedup_jaccard")(spark, dir))

    dump("ANN brute force",
      "Check: corpus side is one MapPartitions (no crossJoin Exchange of the corpus); " +
      "only the per-partition top-k candidates shuffle into the window.",
      SparkEntry.queries("ann_bruteforce")(spark, dir))

    dump("ANN IVF (coarse-quantized inverted lists, round-5 shape)",
      "Check: corpus side is ONE MapPartitions (take-1 cell assignment) that " +
      "never shuffles — the join key arrives with the row; the tiny probe side " +
      "(queries x nProbe cells) is the only BroadcastExchange; exact-cosine " +
      "re-rank happens inside the cell equi-join's output, and only " +
      "(query_id, neighbor_id, cos) triples reach the window Exchange.",
      SparkEntry.queries("ann_ivf")(spark, dir))

    dump("Payload-dedup extraction (extract_dedup_job)",
      "Check: exactly ONE Exchange (the explicit hashpartitioning on the 8-byte " +
      "xxhash64 route key — NOT on the payload bytes) below one in-partition " +
      "Sort(hash, html, url), feeding a single SerializeFromObject/MapPartitions " +
      "pair; no Window, no Join, no second Exchange — the group-adjacent pass " +
      "extracts once per distinct payload and fans out inline.",
      SparkEntry.queries("extract_dedup_job")(spark, dir))

    dump("Event sessionization (q7_sessionize)",
      "Check: ONE hash Exchange on user_id feeds a single sort; both window " +
      "passes (lag boundary flag, running-sum session index) and the final " +
      "partial-aggregated groupBy reuse that partitioning — no second " +
      "shuffle of the events.",
      SparkEntry.queries("q7_sessionize")(spark, dir))

    dump("Exact embedding dedup (pivot-bucketed, round-3 shape)",
      "Check: NO BroadcastNestedLoopJoin / CartesianProduct anywhere (the round-2 " +
      "exact row broadcast the whole corpus). Candidate generation is a plain " +
      "equi-join on the pivot-0 bucket (probe side explodes to b-1/b/b+1); the " +
      "remaining pivots prune as post-join predicates; the exact-cosine " +
      "MapPartitions kernel decides survivors. Lossless by the triangle " +
      "inequality, so the oracle is unchanged.",
      SparkEntry.queries("dedup_embedding_exact")(spark, dir))

    dump("Benchmark decontamination (bloom-prefiltered)",
      "Check: corpus side is ONE MapPartitions (fused tokenize+gram+bloom-probe " +
      "kernel) — no array materialization/explode of all grams; the verify join " +
      "is a BroadcastHashJoin on the small benchmark gram set. The bloom only " +
      "bounds what reaches the join; membership is verified exactly.",
      SparkEntry.queries("text_decontaminate")(spark, dir))

    dump("Near-dup survivors (connected components output)",
      "Final assembly plan only: the large-star/small-star contraction rounds " +
      "run eagerly (each round localCheckpoint-ed so plans stay constant-size; " +
      "O(log n) rounds regardless of graph diameter — see Dedup.components; " +
      "graphs under the explicit size gate short-circuit to a driver " +
      "union-find). Check: docs LEFT JOIN the converged label table, " +
      "coalesce to self for singletons.",
      SparkEntry.queries("dedup_survivors")(spark, dir))

    dump("SimHash cap audit (dedup_simhash_capped)",
      "AUDIT query, quadratic BY DESIGN: the brute arm cross-joins " +
      "DISTINCT simhash values (bounded input, doc_id<1000) to produce " +
      "ground truth, then left-joins the capped pipeline's observed " +
      "pairs. Check: the only nested-loop join is the deliberate " +
      "distinct-values brute arm; the capped arm stays the banded " +
      "equi-join family. Not a production shape — the production path " +
      "is dedup_simhash_near.",
      SparkEntry.queries("dedup_simhash_capped")(spark, dir))

    dump("Composed training set (corpus_training_set)",
      "Final assembly plan only: the per-doc signal arms (survivors, quality, " +
      "lang, contamination) are localCheckpoint-ed EAGERLY before this plan — " +
      "load-bearing, because letting PushDownPredicate substitute the quality " +
      "/ lang_pred filters through the signal projections re-inlines langId's " +
      "argmax CASE per branch where codegen subexpression elimination cannot " +
      "reach (measured 35x: 0.49 s -> 17.3 s on the lang arm at sf0.1). " +
      "Check: corpus scan prunes to (doc_id, text); all three inner arms join " +
      "as BroadcastHashJoin over Scan ExistingRDD (the checkpointed id tables); " +
      "the contamination arm is the LeftAnti.",
      SparkEntry.queries("corpus_training_set")(spark, dir))

    dump("Per-host cap (corpus_host_cap)",
      "Check: quality is computed IN THE SCAN PROJECTION (withQuality — no " +
      "self-join, one corpus pass); ONE hash Exchange on source feeds the " +
      "row_number window; and the rn <= k filter turns into WindowGroupLimit " +
      "on BOTH sides of the Exchange — the map-side one prunes every host to " +
      "its local top-k BEFORE the shuffle, so at crawl scale the exchange " +
      "moves O(hosts x k) rows, not the corpus.",
      SparkEntry.queries("corpus_host_cap")(spark, dir))

    dump("Token-budget stratified sample (corpus_budget_sample)",
      "Check: token count and the masked Knuth key are computed IN THE SCAN " +
      "PROJECTION (no tokenStats self-join, one corpus pass); ONE hash " +
      "Exchange on (lang, source) feeds a single in-partition sort by " +
      "(key, doc_id) and the running-sum window; no second shuffle. The " +
      "sample order is the deterministic multiplicative hash — " +
      "partitioning-independent, oracle-replicable — never rand().",
      SparkEntry.queries("corpus_budget_sample")(spark, dir))

    dump("Crawl snapshot delta (corpus_crawl_delta)",
      "Check: ONE join (SortMergeJoin FullOuter on url at this size — " +
      "flips to per-bucket zero-shuffle when both snapshots use the bucketed " +
      "sink layout); each side reduces to (url, fp) IN THE SCAN STAGE, so " +
      "only 8-byte-ish fingerprint rows reach the exchange, never payloads.",
      SparkEntry.queries("corpus_crawl_delta")(spark, dir))

    dump("Incremental extraction (extract_incremental)",
      "Check: the delta arm computes xxhash64(html) inside the scan " +
      "projection (payload bytes never cross the worklist join); the " +
      "worklist filter (added/changed) sits below the join back to the " +
      "current snapshot; exactly one extraction MapPartitions, fed only by " +
      "worklist rows.",
      SparkEntry.queries("extract_incremental")(spark, dir))

    dump("Length profile (corpus_length_profile)",
      "Check: ONE hash Exchange on source; row_number and the " +
      "per-partition count run as one Window pass over the same sort; the " +
      "final HashAggregate reuses the partitioning (no second Exchange). " +
      "Exact quantiles with no global sort and no sketch.",
      SparkEntry.queries("corpus_length_profile")(spark, dir))

    dump("Vocabulary build (corpus_vocab)",
      "Check: partial_count below the single Exchange (map-side combine " +
      "collapses the token stream to distinct-token partials per partition); " +
      "TakeOrderedAndProject — not a global Sort — implements the " +
      "deterministic (cnt desc, token asc) top-n.",
      SparkEntry.queries("corpus_vocab")(spark, dir))

    dump("Cross-document line dedup (dedup_lines)",
      "Check: the line explode (Generate) runs inside the scan stage — " +
      "no shuffle to materialize lines; the frequency pass is the only " +
      "heavy exchange (two-phase distinct on (key, doc_id) then " +
      "partial-aggregated count per key); the thresholded boilerplate " +
      "set re-joins as a BroadcastHashJoin (it is small by definition); " +
      "re-assembly is ONE hash exchange on doc_id with per-key state " +
      "bounded by the document's own line count (array_sort on " +
      "collected (idx, line), not a sort exchange).",
      SparkEntry.queries("dedup_lines")(spark, dir))

    dump("Incoming anchor-text profile (web_anchor_text)",
      "Check: anchor texts are BOUNDED before aggregation — the plan " +
      "shows distinct (url, anchor) then a WindowGroupLimit/rank filter " +
      "at rn<=8 feeding the collect, so per-key state is capped even for " +
      "a page with 10^7 in-links; counts run partial_count/partial " +
      "two-phase distinct below their Exchange; every Exchange hashes on " +
      "url/dst (co-located when the edge table is bucketed by dst).",
      SparkEntry.queries("web_anchor_text")(spark, dir))

    dump("robots.txt politeness gate (web_robots)",
      "Check: ONE equi-join on host (broadcast here — the policy table " +
      "is tiny; shuffle-on-host with both sides bucketed at crawl " +
      "scale), frontier synthesis stays in the scan stage's codegen, " +
      "and parse+match is a single MapPartitions with a per-partition " +
      "exact-text policy cache; no other Exchange.",
      SparkEntry.queries("web_robots")(spark, dir))

    dump("Politeness crawl schedule (web_crawl_schedule)",
      "Check: the composed pipeline (robots gate → priority rank → " +
      "delay spacing) carries ONE window exchange on host; the robots " +
      "and delay tables both join as broadcasts (tiny policy side); " +
      "rank is per-host row_number — no global sort anywhere; frontier " +
      "synthesis and the gate's MapPartitions stay in the scan stage.",
      SparkEntry.queries("web_crawl_schedule")(spark, dir))

    dump("Web-graph anchor extraction (web_links)",
      "Check: NO Exchange anywhere — the synthetic-web construction is " +
      "pure projection (concat stays in the scan stage's codegen) and the " +
      "anchor scanner is one MapPartitions over it; edge rows leave the " +
      "stage ready to be written bucketed by src.",
      SparkEntry.queries("web_links")(spark, dir))

    {
      // One PageRank round, PRE-checkpoint (the loop truncates lineage
      // per iteration, so the final `ranks` plan is just a Scan
      // ExistingRDD — the iteration body is the plan that matters)
      import org.apache.spark.sql.functions.{col, count, lit}
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val edges = graft.ops.WebGraph.extractAnchors(
        graft.ops.WebGraph.syntheticWeb(docs, docs.count()))
        .select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
      val nodes = edges.select(col("src").as("url"))
        .union(edges.select(col("dst").as("url"))).distinct()
        .localCheckpoint(true)
      val outdeg = edges.groupBy(col("src"))
        .agg(count(lit(1)).as("outdeg")).localCheckpoint(true)
      val ranks0 = nodes.select(col("url"), lit(1000000L).as("rank"))
        .localCheckpoint(true)
      dump("Integer PageRank — one iteration (web_pagerank)",
        "Check: contribution aggregation runs partial_sum BELOW the single " +
        "hash Exchange on url (map-side combine — the per-iteration shuffle " +
        "moves O(distinct dst per partition), not O(edges)); the src-side " +
        "joins are plain equi-joins over the checkpointed edge/outdeg/rank " +
        "tables (broadcast at this size, sort-merge co-located when edges+ " +
        "ranks are bucketed by src at corpus scale); NO cartesian anywhere. " +
        "The loop localCheckpoints each round, so lineage stays " +
        "constant-size over any iteration count.",
        graft.ops.WebGraph.iterate(edges, outdeg,
          nodes.select(col("url"), lit(49999L).as("base")), ranks0))
    }

    dump("Canonical-url consolidation (web_canonical_map)",
      "Check: the redirect resolution (pointer doubling) is checkpointed " +
      "away, leaving exactly two left equi-joins keyed on url — meta⋈" +
      "resolved then terminal⋈meta — with no cartesian and nothing " +
      "page-sized broadcast (the broadcasts below are size-based at " +
      "sf0.01 and flip to shuffle joins at corpus scale); both joins key " +
      "on the same url domain, so a url-bucketed meta table co-locates " +
      "the second join with the first.",
      SparkEntry.queries("web_canonical_map")(spark, dir))

    dump("Host-level reputation rollup (web_host_profile)",
      "Check: per-page scalars (host, token count, length, md5) are " +
      "computed inside the scan stage's codegen; the count(DISTINCT fp) " +
      "plans as a two-level aggregate with partial aggregation below " +
      "BOTH exchanges — the first moves one row per distinct (host, " +
      "fingerprint) (the dedup-compressed page set, never raw pages), " +
      "the second one row per host.",
      SparkEntry.queries("web_host_profile")(spark, dir))

    dump("Exact-substring span dedup (dedup_ngram_spans)",
      "Check: the occurrence census is a groupBy on the 8-byte " +
      "fingerprint with partial_count BELOW its Exchange (a universal " +
      "boilerplate gram collapses to one row per map task — the reason " +
      "this is NOT a window count, which would pin the hot gram into " +
      "one unsplittable reducer); the dup filter joins back on the " +
      "fingerprint as a plain equi-join (AQE skew-splittable); ONE " +
      "Exchange on doc_id is SHARED by the lag-window and the final " +
      "aggregate; only (doc_id, pos, fingerprint) triples ever shuffle.",
      SparkEntry.queries("dedup_ngram_spans")(spark, dir))

    dump("BM25 ranked retrieval (web_bm25)",
      "Check: the postings/df aggregates are partial-aggregated " +
      "shuffles on (term[, doc]); the query table reaches df and then " +
      "the postings via BroadcastHashJoin (forced — queries are tiny by " +
      "contract, the corpus side NEVER broadcasts); the final rank<=k " +
      "filter plans as WindowGroupLimit with a Partial mode BELOW the " +
      "per-query Exchange, so each map task prunes to its local top-k " +
      "before shuffling.",
      SparkEntry.queries("web_bm25")(spark, dir))

    {
      // One HITS half-round, PRE-checkpoint (same rationale as the
      // PageRank block: the loop truncates lineage per round)
      import org.apache.spark.sql.functions.{broadcast, col, lit, sum, when, coalesce, expr, count}
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val edges = graft.ops.WebGraph.extractAnchors(
        graft.ops.WebGraph.syntheticWeb(docs, docs.count()))
        .select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
      val nodes = edges.select(col("src").as("url"))
        .union(edges.select(col("dst").as("url"))).distinct()
        .localCheckpoint(true)
      val scores = nodes.select(col("url"), lit(1000L).as("hub"),
        lit(1000L).as("auth")).localCheckpoint(true)
      val hRaw = edges.join(
        scores.select(col("url").as("dst"), col("auth")), Seq("dst"))
        .groupBy(col("src").as("url")).agg(sum(col("auth")).as("raw"))
      val tot = hRaw.agg(sum(col("raw")).as("tot"))
      val h = nodes.join(hRaw, Seq("url"), "left")
        .crossJoin(broadcast(tot))
        .select(col("url"),
          when(col("tot").isNull || col("tot") === 0L, lit(0L))
            .otherwise(expr("(coalesce(raw, 0L) * 100000000L) div tot"))
            .as("hub"))
      dump("Integer HITS — one hub half-round (web_hits)",
        "Check: same per-round shape as PageRank (partial_sum below one " +
        "hash Exchange on the score key), plus the L1 renorm: the 1-row " +
        "sum arrives via BroadcastExchange + BroadcastNestedLoopJoin — a " +
        "1-row broadcast is the ONLY acceptable BNLJ shape, it never " +
        "scales with the graph. Loop localCheckpoints per round.",
        h)
    }

    {
      // One BFS frontier round, PRE-checkpoint (the loop truncates
      // lineage per round; the round body is the plan that matters)
      import org.apache.spark.sql.functions.{col, lit}
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val edges = graft.ops.WebGraph.extractAnchors(
        graft.ops.WebGraph.syntheticWeb(docs, docs.count()))
        .select(col("src"), col("dst")).distinct().localCheckpoint(true)
      val seeds = graft.ops.WebGraph.syntheticSeeds(docs, 29)
        .select(col("url"), lit(0).as("depth")).localCheckpoint(true)
      val next = edges
        .join(seeds.select(col("url").as("src")), Seq("src"))
        .select(col("dst").as("url")).distinct()
        .join(seeds.select("url"), Seq("url"), "left_anti")
        .select(col("url"), lit(1).as("depth"))
      dump("BFS crawl depth — one frontier round (web_crawl_depth)",
        "Check: the round joins the edge table against the FRONTIER " +
        "ONLY (equi-join on src — broadcast while the frontier is " +
        "small, shuffle when it isn't; co-located if edges are " +
        "bucketed by src at corpus scale), anti-joins the visited set " +
        "as a plain LeftAnti equi-join (Catalyst even pushes it BELOW " +
        "the rim dedup, discarding already-visited dsts before the " +
        "aggregate), and dedups the rim with a partial-aggregated " +
        "distinct (partial below its Exchange). NO cartesian, nothing " +
        "proportional to |V|x|E|; round cost tracks the newly " +
        "discovered rim, and the loop exits on first empty frontier.",
        next)
    }

    dump("Link reciprocity per host (web_reciprocity)",
      "Check: the reciprocated set is a LeftSemi equi-join on the FULL " +
      "composite (src, dst) key — both sides shuffle on the same key " +
      "(co-located when edges are bucketed on it; AQE-splittable because " +
      "the key is the whole edge, not a hub vertex); both host rollups " +
      "run partial_count BELOW their Exchange; the final host join is a " +
      "13-row broadcast. NO cartesian.",
      SparkEntry.queries("web_reciprocity")(spark, dir))

    dump("tf-idf keywords (text_keywords)",
      "Check: postings and df are partial-aggregated term-keyed " +
      "shuffles; the score join is a term equi-join (co-partitioned " +
      "at corpus scale, size-based broadcast here); the per-doc top-k " +
      "plans as WindowGroupLimit with a Partial mode BELOW the doc_id " +
      "Exchange — each map task prunes to k rows per doc before " +
      "shuffling. No cartesian, no full-dictionary broadcast.",
      SparkEntry.queries("text_keywords")(spark, dir))

    dump("Exact-phrase retrieval (web_phrase_search)",
      "Check: the positional-postings side (posexplode inside codegen " +
      "over the pruned scan) reaches the query terms via " +
      "BroadcastHashJoin (forced — queries tiny by contract), so the " +
      "corpus NEVER shuffles unmatched postings: the first Exchange " +
      "carries only anchor votes on (query_id, doc_id, anchor); the " +
      "countDistinct(idx) is the standard two-level aggregate; qlen " +
      "arrives as a second tiny broadcast. NO corpus-side shuffle " +
      "before the match filter, NO cartesian.",
      SparkEntry.queries("web_phrase_search")(spark, dir))

    dump("Crawl-budget apportionment (corpus_crawl_budget)",
      "Check: one partial-aggregated host rollup; W and R are 1-row " +
      "driver scalars (never data); the top-R remainder pick plans " +
      "as TakeOrderedAndProject feeding a small broadcast left join " +
      "— NOT a partitionless window over all hosts.",
      SparkEntry.queries("corpus_crawl_budget")(spark, dir))

    dump("Host content overlap via minhash union (web_host_overlap)",
      "Check: per-page signature lanes fold by ONE partial-aggregated " +
      "groupBy(host, lane) — at most |hosts|*k rows shuffle (the " +
      "mergeable-sketch property: min of a union = min of mins); the " +
      "pair stage is an equi-join on (lane, value), so hosts meet " +
      "ONLY where a lane value coincides — LSH-style, never " +
      "all-pairs; no page pair is ever compared.",
      SparkEntry.queries("web_host_overlap")(spark, dir))

    dump("Count-Min term sketch (corpus_term_sketch)",
      "Check: the sketch build is ONE aggregation on (row, col) with " +
      "partial_count below its Exchange — at most d*2^p rows move per " +
      "map task regardless of corpus size (mergeable sketch state); " +
      "the exact top-k audit arm plans as TakeOrderedAndProject (each " +
      "map task keeps k rows — NOT a partitionless window, which " +
      "would single-reducer the whole term dictionary); the estimate " +
      "join probes the checkpointed 1024-row sketch by broadcast.",
      SparkEntry.queries("corpus_term_sketch")(spark, dir))

    dump("HLL url cardinality (corpus_url_cardinality)",
      "Check: one per-row hash MapPartitions feeds a register " +
      "aggregate whose partial max sits BELOW its Exchange — the " +
      "shuffle moves at most 256 rows per map task REGARDLESS of " +
      "input size (the whole point vs count-distinct, whose shuffle " +
      "grows with the answer); the final fold is a single bounded " +
      "256-row reduce; the exact_distinct audit arm is the only " +
      "answer-sized aggregate and rides a separate branch.",
      SparkEntry.queries("corpus_url_cardinality")(spark, dir))

    dump("Snapshot collapse (corpus_snapshot_collapse)",
      "Check: ONE url-keyed aggregation path — count/min/max and the " +
      "packed latest-fetch max all partial-aggregate BELOW their " +
      "Exchange; the count(DISTINCT fp) plans as the standard " +
      "two-level shape (one row per distinct (url, fp) shuffles, " +
      "never the raw fetch log); NO window, NO join. The md5-STRING " +
      "fp (oracle parity) makes the max buffer non-fixed-width, so " +
      "this instance is SortAggregate; the same shape with the " +
      "production NUMERIC fp (xxhash64) verifies as HashAggregate " +
      "end to end. A window row_number for latest-fetch would add a " +
      "second shuffle and pin hot urls into one reducer.",
      SparkEntry.queries("corpus_snapshot_collapse")(spark, dir))

    dump("Passage chunking (corpus_chunks)",
      "Check: split / chunk-count arithmetic / sequence+explode / " +
      "slice / array_join are ALL built-in expressions inside one " +
      "WholeStageCodegen span over the pruned scan (ReadSchema: " +
      "doc_id, text) — ZERO Exchange, no UDF; the explode fan-out " +
      "(~n_tokens/stride rows per doc) shards embarrassingly.",
      SparkEntry.queries("corpus_chunks")(spark, dir))

    dump("CDC merge / upsert (corpus_merge_upsert)",
      "Check: the change BATCH alone pays one hash-aggregated " +
      "collapse shuffle (packed-string max buffer — SortAggregate " +
      "for the same non-fixed-width reason as snapshot collapse, " +
      "partials below the Exchange so hot-url duplicate changes " +
      "combine map-side), then ONE full-outer sort-merge join on " +
      "url; the action CASE and the kept/updated projection are " +
      "plain codegen above it. No window over the base, no driver " +
      "state, no second pass. At 10^12 rows the base side is the " +
      "bucketed-by-url-hash layout ExtractJob writes, so the join " +
      "degenerates to a bucket-local merge (Iceberg MERGE INTO's " +
      "copy-on-write shape) and only the day's change batch moves.",
      SparkEntry.queries("corpus_merge_upsert")(spark, dir))

    dump("Shard assignment (corpus_shard_assign)",
      "Check: the assign pass is Scan ExistingRDD (the checkpointed " +
      "range layout) -> Deserialize -> MapPartitions -> Serialize — " +
      "ZERO Exchange: the one range shuffle happened before the " +
      "checkpoint, the offset pass collected only P partition counts, " +
      "and positions are assigned partition-locally from broadcast " +
      "prefix offsets (the zipWithIndex pattern). A row_number() OVER " +
      "(ORDER BY ...) here would be a partitionless window moving the " +
      "corpus through one task — that is exactly what this operator " +
      "exists to avoid at 10^12 rows.",
      SparkEntry.queries("corpus_shard_assign")(spark, dir))

    dump("Incremental crawl-batch LSH dedup (dedup_incremental_lsh)",
      "Check: the base side enters as Scan ExistingRDD (the persisted " +
      "signature table — NO shingling/text scan of the base anywhere " +
      "in the plan); the bucket rollup is a partial-aggregated " +
      "HashAggregate on (band, bh); the pair join keys delta bands " +
      "against surviving buckets only. At 10^12 docs the base-only " +
      "buckets (the overwhelming majority) die in the rollup filter " +
      "and never reach the self-join — per-increment cost is " +
      "delta-proportional.",
      SparkEntry.queries("dedup_incremental_lsh")(spark, dir))

    dump("Bloom-sketch decontamination (corpus_bloom_decontaminate)",
      "Check: the corpus pays ONE DeserializeToObject -> MapPartitions " +
      "kernel pass (tokenize + slide + probe the broadcast bitmap " +
      "inline); the audit join carries only bloom-positive grams into " +
      "a BroadcastHashJoin; the bitmap build is a 128-row bit_or " +
      "rollup. Nothing benchmark-sized ever ships to executors — " +
      "only the 1 KB bitmap.",
      SparkEntry.queries("corpus_bloom_decontaminate")(spark, dir))

    dump("Winnowing fingerprint selection (dedup_winnow, stage 1)",
      "Check: ONE hash Exchange on doc_id feeds BOTH window passes " +
      "(forward-frame min + per-doc max: two Window nodes with zero " +
      "extra Exchange or Sort between them); selection is a plain " +
      "long `min` window frame (the packed key avoids a struct " +
      "buffer, which would force extra sorts).",
      graft.ops.Winnow.fingerprints(
        spark.read.parquet(s"$dir/documents.parquet")))

    dump("Winnowing fingerprint matches (dedup_winnow, stage 2)",
      "Check: the pair stage starts from the CHECKPOINTED selection " +
      "(Scan ExistingRDD — stage 1 runs once, not per consumer) and " +
      "joins fingerprints only AFTER the df-cap semi-join, so " +
      "corpus-wide boilerplate grams never reach the self-join.",
      SparkEntry.queries("dedup_winnow")(spark, dir))

    dump("PMI collocations (text_collocations)",
      "Check: bigram and unigram counts are partial-aggregated " +
      "HashAggregates (combine below their Exchange); the two " +
      "vocabulary joins and the 1-row N scalar are BroadcastHashJoin / " +
      "BroadcastNestedLoopJoin over broadcast(tiny); the top-k is " +
      "TakeOrderedAndProject (per-task k-row heaps), never a global " +
      "Sort. The ranking comparator is one IEEE division of two " +
      "exactly-representable longs — no transcendental in the plan.",
      SparkEntry.queries("text_collocations")(spark, dir))

    dump("Unicode normalization (text_normalize)",
      "Check: a single DeserializeToObject -> MapPartitions -> " +
      "SerializeFromObject pipeline directly over the pruned scan " +
      "(ReadSchema: doc_id, text) — per-row kernel, ZERO Exchange; " +
      "shards embarrassingly at any scale.",
      SparkEntry.queries("text_normalize")(spark, dir))

    dump("As-of join (q12_asof)",
      "Check: ONE Exchange hashpartitioning(user_id) feeding a single " +
      "Window (the last-match carry) and a Filter on the query type — " +
      "no join operator anywhere, the match side is never duplicated. " +
      "At 10^12 events this is the as-of plan you want: no range " +
      "bucketing, no SortMergeJoin, per-user state is the running frame.",
      SparkEntry.queries("q12_asof")(spark, dir))

    dump("Session-overlap census (q13_overlap, final assembly)",
      "Check: NO inequality join anywhere — the pairwise overlap is " +
      "rank arithmetic. The two countBelow sweeps are range Exchanges " +
      "materialized by localCheckpoint (they appear as Scan " +
      "ExistingRDD here); the visible plan is only the two equi-joins " +
      "stitching the sweep outputs back to the session table (" +
      "SortMergeJoin on the unique session id). The quadratic join " +
      "lives ONLY in the DuckDB oracle.",
      SparkEntry.queries("q13_overlap")(spark, dir))

    dump("Triangle counting (web_triangles)",
      "Check: every join is an equi-join (ShuffledHashJoin/SortMerge " +
      "on u resp. (w1,w2)) — no BroadcastNestedLoop, no inequality " +
      "join; the degree-orientation means the wedge self-join's " +
      "left/right build sides are O(sqrt(m)) per key, so no hub ever " +
      "builds a quadratic neighborhood. Final per-node count is a " +
      "partial-aggregated HashAggregate below its Exchange.",
      SparkEntry.queries("web_triangles")(spark, dir))

    dump("k-core decomposition (web_kcore, post-fixpoint degrees)",
      "Check: the visible plan is the final degree count over the " +
      "checkpointed live edge set (Scan ExistingRDD — each peeling " +
      "round ended in localCheckpoint(true), so lineage is one round " +
      "deep, never rounds-deep). Per round the engine runs exactly one " +
      "partial-agg Exchange (degrees) and two LEFT SEMI joins; driver " +
      "traffic is one Long per round.",
      SparkEntry.queries("web_kcore")(spark, dir))

    dump("HyperBall ball-size estimates (web_hyperball, final assembly)",
      "Check: the visible plan is the register fold (partial-agg " +
      "HashAggregate over the checkpointed round-3 register state — " +
      "Scan ExistingRDD) joined to the audit arm; per ROUND the engine " +
      "ran one edge-state equi-join + one (v, reg) partial-agg max, " +
      "state bounded at m rows/node regardless of ball size — the " +
      "whole point vs the closure, which only the ORACLE computes.",
      SparkEntry.queries("web_hyperball")(spark, dir))

    dump("Sequence packing (corpus_pack, final assembly)",
      "Check: the visible plan is the streamed interval pass over the " +
      "pinned range-partitioned layout (Scan ExistingRDD -> " +
      "MapPartitions — the weighted-zipWithIndex second pass); NO " +
      "partitionless window, no join; the single range Exchange " +
      "happened inside the localCheckpoint. Driver traffic is P " +
      "per-partition token sums.",
      SparkEntry.queries("corpus_pack")(spark, dir))

    dump("Weighted source interleave (corpus_interleave, final assembly)",
      "Check: one hash Exchange on source for the per-source rank " +
      "window, then the streamed enumeration pass over the pinned " +
      "range layout (Scan ExistingRDD -> MapPartitions) — NO " +
      "partitionless window; integer virtual-time keys only.",
      SparkEntry.queries("corpus_interleave")(spark, dir))

    dump("Bigram count-of-counts (corpus_ngram_lm)",
      "Check: the pairing is zip_with over two slices of ONE tokens " +
      "array inside the projection (no posexplode self-join, no " +
      "window over token rows); then two partial-aggregated " +
      "HashAggregates — gram counts (map-side combine absorbs the " +
      "Zipf head) and the tiny count-of-counts key. ReadSchema is " +
      "text-only.",
      SparkEntry.queries("corpus_ngram_lm")(spark, dir))

    {
      // One prefix-doubling round, PRE-checkpoint (the loop truncates
      // lineage per round; the round body is the plan that matters)
      import org.apache.spark.sql.functions.{coalesce, col, length, lit, min, posexplode, split}
      import org.apache.spark.sql.expressions.Window
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val p0 = docs
        .select(col("doc_id").cast("long").as("doc_id"),
          posexplode(split(col("text"), "")))
        .filter(length(col("col")) === 1)
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          (col("doc_id") * (1L << 20) + col("pos")).as("packed"), col("col").as("chr"))
        .withColumn("r", min(col("packed")).over(Window.partitionBy(col("chr"))))
        .drop("chr").localCheckpoint(true)
      val shifted = p0.select(col("doc_id"), (col("pos") - 1L).as("pos"),
        col("r").as("r2"))
      val round = p0.join(shifted, Seq("doc_id", "pos"), "left")
        .withColumn("r2", coalesce(col("r2"), lit(-1L)))
        .withColumn("r",
          min(col("packed")).over(Window.partitionBy(col("r"), col("r2"))))
        .select(col("doc_id"), col("pos"), col("packed"), col("r"))
      dump("Suffix ranks — one prefix-doubling round (dedup_repeat_spectrum)",
        "Check: the round body touches NO strings — both inputs are the " +
        "checkpointed integer rank table (Scan ExistingRDD); the partner " +
        "rank arrives via a plain (doc_id, pos) equi-join (size-based " +
        "broadcast at sf0.01; sort-merge, co-located when the position " +
        "table is bucketed on doc_id, at corpus scale) and the re-rank " +
        "is a Window partitioned by the " +
        "(r, r2) pair — never a partitionless dense_rank, which would " +
        "single-reducer the corpus. Characters shuffled exactly once, in " +
        "round 0; every later round moves only integer triples. " +
        "log2(window) rounds total, localCheckpoint per round.",
        round)
    }

    dump("Content-defined chunk dedup census (corpus_cdc_dedup)",
      "Check: the gear-hash chunker is ONE DeserializeToObject -> " +
      "MapPartitions kernel pass directly over the pruned scan " +
      "(ReadSchema: doc_id, text) — boundaries are per-row state, no " +
      "shuffle to find them; the census is a single fp-keyed " +
      "HashAggregate with partials BELOW its Exchange, so N snapshots " +
      "of the same page collapse map-side to one census row (the " +
      "count(DISTINCT doc_id) is the standard two-level shape). " +
      "Nothing quadratic, no driver state — snapshot-count-proof.",
      SparkEntry.queries("corpus_cdc_dedup")(spark, dir))

    dump("Video frame-level dedup (multimodal_framehash)",
      "Check: the container parse + fingerprint is ONE MapPartitions " +
      "kernel — binary payloads never reach an Exchange; only the " +
      "(vid, idx, fp) scalar triples shuffle, once, into the fp-keyed " +
      "census HashAggregate (partials below the Exchange); the " +
      "share-count join is an equi-join on fp.",
      SparkEntry.queries("multimodal_framehash")(spark, dir))

    dump("Mojibake repair (text_mojibake)",
      "Check: one DeserializeToObject -> MapPartitions kernel over the " +
      "pruned scan — ZERO Exchange anywhere (per-row scalar repair); " +
      "the planted-variant projection folds into the same stage.",
      SparkEntry.queries("text_mojibake")(spark, dir))

    dump("DSIR importance selection (corpus_importance, scoring side)",
      "Check: the per-doc bucket-count kernel feeds ONE hash " +
      "aggregate; both bucket-total tables come back as " +
      "BroadcastHashJoin (B=256 rows — never a shuffle join); the " +
      "top-k is TakeOrderedAndProject (per-map-task heaps, no global " +
      "sort, no partitionless window). The count table is " +
      "localCheckpointed once (Scan ExistingRDD) so the text pass " +
      "runs exactly once for totals + scoring.",
      SparkEntry.queries("corpus_importance")(spark, dir))

    dump("Tokenizer fertility census (corpus_fertility)",
      "Check: the learned unit table arrives as BroadcastHashJoin " +
      "(vocabulary-sized build side); the per-lang rollup is ONE " +
      "partial-aggregated HashAggregate pair around a single " +
      "Exchange on lang; both ratios are projected AFTER the " +
      "aggregate (divisions of exact longs, once per lang row).",
      SparkEntry.queries("corpus_fertility")(spark, dir))

    dump("Audio clip stats (multimodal_audio)",
      "Check: one DeserializeToObject -> MapPartitions kernel (the " +
      "WAV parse) directly over the synthesized range — ZERO " +
      "Exchange anywhere (per-clip scalars); silence_frac folds " +
      "into the same projection stage.",
      SparkEntry.queries("multimodal_audio")(spark, dir))

    dump("Rank-sum AUC calibration (corpus_quality_auc)",
      "Check: EXACTLY ONE parquet scan — the (source, quality) " +
      "projection is checkpointed (Scan ExistingRDD below every " +
      "consumer; the first plan ran the quality regexes 4x); the " +
      "Window runs over the bounded distinct-score aggregate; the " +
      "midrank map comes back as BroadcastHashJoin; per-source " +
      "rollup is checkpointed before the 1-row grand-total " +
      "BroadcastNestedLoopJoin.",
      SparkEntry.queries("corpus_quality_auc")(spark, dir))

    dump("Language-ID confusion census (text_lang_confusion)",
      "Check: EXACTLY ONE parquet scan — the classifier projection " +
      "collapses through one partial-aggregated Exchange to " +
      "<=|langs|^2 cells which are CHECKPOINTED (two consumers: " +
      "cells + row totals; without the barrier the marker counting " +
      "ran twice); totals come back as BroadcastHashJoin.",
      SparkEntry.queries("text_lang_confusion")(spark, dir))

    dump("Two-phase mixture schedule (corpus_mix_anneal)",
      "Check: quality + both weight columns are computed in ONE " +
      "corpus pass feeding a single host rollup (Scan ExistingRDD " +
      "below both phases = the localCheckpoint); each Hamilton " +
      "phase is |hosts|-sized work — TakeOrderedAndProject for the " +
      "top-R remainders and a BroadcastHashJoin for the extras, " +
      "never a partitionless window over hosts.",
      SparkEntry.queries("corpus_mix_anneal")(spark, dir))

    dump("Split-leakage census (corpus_split_leakage)",
      "Check: the (doc_id, md5) projection is checkpointed (Scan " +
      "ExistingRDD below both consumers — without the barrier the " +
      "TEXT column was read and hashed twice); one Exchange on fp " +
      "builds clusters, the join back is broadcast, the final " +
      "per-split aggregate collapses to 3 rows.",
      SparkEntry.queries("corpus_split_leakage")(spark, dir))

    dump("Host-concentration Gini (web_host_gini)",
      "Check: one partial-aggregated Exchange collapses the corpus " +
      "to |hosts| rows; the global rank is the two-pass zipWithIndex " +
      "(Exchange rangepartitioning + Sort + Scan ExistingRDD — the " +
      "frozen checkpoint both passes share), NEVER a single-partition " +
      "Window; the final aggregate is one row.",
      SparkEntry.queries("web_host_gini")(spark, dir))

    dump("Per-epoch Feistel shuffle (corpus_epoch_order)",
      "Check: the epoch fan-out is a Generate (explode) over a " +
      "3-long projection — the text column is pruned before the " +
      "fan-out; keys are pure codegen long arithmetic; the only " +
      "exchange is ONE rangepartitioning on (epoch, key) feeding " +
      "the frozen checkpoint both rank passes share (Scan " +
      "ExistingRDD), NEVER a partitionless Window.",
      SparkEntry.queries("corpus_epoch_order")(spark, dir))

    dump("Resharding churn census (corpus_reshard_churn)",
      "Check: ReadSchema is doc_id alone; the rings never appear in " +
      "the plan (generated in-kernel from the closed-form vnode " +
      "hash — no broadcast, no join); the kernel's 2-rows-per-doc " +
      "output collapses through a partial-aggregated Exchange over " +
      "<= 2*nNew census keys to the 2-row final aggregate.",
      SparkEntry.queries("corpus_reshard_churn")(spark, dir))

    dump("Hard-negative mining (corpus_hard_negatives)",
      "Check: both sides come off ONE pivot-bucket kernel pass; the " +
      "small anchor side broadcasts (BroadcastHashJoin on the probe " +
      "bucket — with both sides large the same plan degrades to a " +
      "shuffle equi-join, never a corpus broadcast); the corpus " +
      "side explodes only probe KEYS; the band census + argmax is " +
      "one partial-aggregated Exchange over anchor ids.",
      SparkEntry.queries("corpus_hard_negatives")(spark, dir))

    dump("Freshness-weighted apportionment (corpus_freshness_budget)",
      "Check: one partial-aggregated url collapse, one equi-join " +
      "back to the doc token projection, one host rollup; the decay " +
      "multiplier is codegen long arithmetic (shiftleft — no exp(), " +
      "no UDF); corpus-max-ts and Hamilton W/R are 1-row driver " +
      "scalars; top-R remainders plan as TakeOrderedAndProject + " +
      "broadcast semi-join, never a partitionless window.",
      SparkEntry.queries("corpus_freshness_budget")(spark, dir))

    dump("EXIF privacy-scrub census (multimodal_exif)",
      "Check: one stateless per-row kernel inside the scan partition " +
      "— the binary payload never moves, only scalars come out; ZERO " +
      "Exchange in the plan (no shuffle at any width).",
      SparkEntry.queries("multimodal_exif")(spark, dir))

    dump("Code-vs-prose router (text_code_detect)",
      "Check: ONE scan-local codegen projection (regexp_count + " +
      "length deltas), no UDF, ZERO Exchange at any width.",
      SparkEntry.queries("text_code_detect")(spark, dir))

    dump("Watermark late-data census (stream_late_events)",
      "Batch-side read of the streaming sink only (the stateful plan " +
      "itself is streaming-only): check the read-back is a plain " +
      "pruned parquet scan + filter, no shuffle.",
      SparkEntry.queries("stream_late_events")(spark, dir))

    dump("Degree assortativity (web_assortativity)",
      "Check: edge dedup feeds a localCheckpoint barrier (ids only); " +
      "the two degree rollups are partial-aggregated and join back " +
      "broadcast-sized; the final aggregate is ONE row; all-long " +
      "arithmetic, no division.",
      SparkEntry.queries("web_assortativity")(spark, dir))

    dump("Epoch allocation (corpus_epoch_allocation)",
      "Check: ONE partial-agg corpus rollup to |sources| rows feeds " +
      "a localCheckpoint barrier; the unpartitioned cumsum window " +
      "runs on the bounded |sources|*E grid only; budget is a 1-row " +
      "driver scalar; all-long arithmetic.",
      SparkEntry.queries("corpus_epoch_allocation")(spark, dir))

    dump("Sitemap coverage (web_sitemap_gap)",
      "Check: the sitemap parse is one flatMap kernel (xml stays in " +
      "its scan partition, only url scalars exit); ONE full-outer " +
      "url shuffle; one partial-agg host rollup; the 13-row host " +
      "meta side broadcasts.",
      SparkEntry.queries("web_sitemap_gap")(spark, dir))

    dump("WARC shard ingestion (web_warc_records)",
      "Check: ONE stateless flatMap kernel over the shard scan — no " +
      "Exchange anywhere; only per-record scalars exit the partition.",
      SparkEntry.queries("web_warc_records")(spark, dir))

    dump("Banding-recall sweep (dedup_threshold_sweep)",
      "AUDIT query, quadratic BY DESIGN on the bounded universe " +
      "(doc_id < 800): the truth arm is the deliberate crossJoin; " +
      "the banding arm is the production minhashLsh pipeline " +
      "unchanged; truth pairs hit a localCheckpoint barrier before " +
      "the 5-way threshold explode.",
      SparkEntry.queries("dedup_threshold_sweep")(spark, dir))

    dump("TTL streaming dedup (stream_dedup_ttl)",
      "Batch-side read of the streaming sink only (the stateful " +
      "plan is streaming-only): check a plain pruned parquet scan.",
      SparkEntry.queries("stream_dedup_ttl")(spark, dir))

    dump("Trigram novelty (text_ngram_novelty)",
      "Check: array_distinct runs INSIDE the row before explode — " +
      "the gram Exchange carries distinct (doc, gram) pairs only; " +
      "ONE partial-agg df rollup; the join back re-partitions on " +
      "gram (co-partitioned); one per-doc rollup.",
      SparkEntry.queries("text_ngram_novelty")(spark, dir))

    dump("Graph reorder census (web_graph_reorder)",
      "Check: BFS rank = range partition + frozen-pid offsets (no " +
      "partitionless window anywhere in the engine plan); the id " +
      "map joins back as url equi-joins; per-ordering stats " +
      "collapse to ONE row each before the 2-row union.",
      SparkEntry.queries("web_graph_reorder")(spark, dir))

    dump("License routing (corpus_license_detect)",
      "Check: scan-local contains() ladder, ONE partial-agg rollup " +
      "to <= |sources|*6 cells.",
      SparkEntry.queries("corpus_license_detect")(spark, dir))

    dump("Quality drift (corpus_quality_drift)",
      "Check: each snapshot pass collapses to <= 10 bucket rows " +
      "BEFORE the full-outer join; totals/TV are driver scalars " +
      "over the checkpointed bucket table.",
      SparkEntry.queries("corpus_quality_drift")(spark, dir))

    dump("Date extraction (text_date_extract)",
      "Check: scan-local regex projection, zero Exchange.",
      SparkEntry.queries("text_date_extract")(spark, dir))

    dump("Spam mass (web_spam_mass)",
      "Check: the two rank fixed points end in checkpointed tables; " +
      "the composition is ONE url equi-join + codegen long " +
      "arithmetic; totals are driver scalars.",
      SparkEntry.queries("web_spam_mass")(spark, dir))

    dump("Cluster-size histogram (dedup_cluster_stats)",
      "Check: two partial-agg rollups over the survivors output; " +
      "final table is O(log max-size) rows.",
      SparkEntry.queries("dedup_cluster_stats")(spark, dir))

    dump("Hourly MAD anomalies (events_anomaly_mad)",
      "Check: ONE partial-agg shuffle to the time-span-bounded hour " +
      "table; median/MAD are driver scalars over the checkpointed " +
      "bounded table — no corpus sort, no partitionless window.",
      SparkEntry.queries("events_anomaly_mad")(spark, dir))

    dump("Dataset card (corpus_dataset_card)",
      "Check: ONE corpus scan feeds the checkpointed narrow " +
      "projection; every census arm reads the projection (no " +
      "re-scan); the source rollup collapses before its driver max.",
      SparkEntry.queries("corpus_dataset_card")(spark, dir))

    dump("CUBE grouping sets (q14_cube)",
      "Check: ONE Expand node fans the four grouping sets into a " +
      "single partial-aggregated Exchange — no re-scan per set.",
      SparkEntry.queries("q14_cube")(spark, dir))

    dump("Instruction routing (corpus_instruction_detect)",
      "Check: scan-local regexp_count signals, ONE partial-agg " +
      "census to <= |sources|*5 cells.",
      SparkEntry.queries("corpus_instruction_detect")(spark, dir))

    dump("JSON props rollup (events_json_props)",
      "Check: codegen get_json_object (no UDF), ONE partial-agg " +
      "shuffle to |event_types| rows.",
      SparkEntry.queries("events_json_props")(spark, dir))

    dump("Token compression (corpus_token_compression)",
      "Check: scan-local token/piece/char signals, ONE partial-agg " +
      "rollup; ratios are codegen integer division.",
      SparkEntry.queries("corpus_token_compression")(spark, dir))

    dump("Shuffle adjacency (corpus_shuffle_adjacency)",
      "Check: adjacency is the (epoch, pos+1) equi-join over the " +
      "checkpointed order table — NO window partitioned only by " +
      "epoch; per-epoch rollup + the tiny baseline arm.",
      SparkEntry.queries("corpus_shuffle_adjacency")(spark, dir))

    dump("ANN recall harness (corpus_ann_recall)",
      "Check: the brute-force truth is a localCheckpoint barrier " +
      "(nQ*k rows) so no arm re-runs it; each approximate pipeline " +
      "scans the corpus exactly once and joins the tiny truth side " +
      "(BroadcastHashJoin), collapsing to a 1-row partial aggregate " +
      "before the 5-row union; recall_permille is codegen long " +
      "arithmetic — no IEEE, no UDF.",
      SparkEntry.queries("corpus_ann_recall")(spark, dir))

    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("wrote PLANS.md")
    spark.stop()
  }
}
