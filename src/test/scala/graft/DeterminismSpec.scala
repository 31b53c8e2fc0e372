package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.SparkTestBase

/** The repo's core scale-correctness claim, asserted directly: query
  * results must be IDENTICAL under different parallelism (the 100 TB
  * posture — a result that depends on the shuffle schedule can't pass a
  * hash gate, and silently drifts between cluster sizes). Runs a
  * representative slice of the surface — scaled-int aggregates, exact
  * moments, set ops, window ranks, text dedup, vector scoring, the
  * iterative components — under shuffle.partitions ∈ {1, 3, 17} and
  * compares full collected outputs. */
class DeterminismSpec extends SparkTestBase {

  private val sample = Seq(
    "c1_snapshot", "c7_scd2", "c8_asof_time",
    "q10_setops", "q11c_grouping_sets", "q17b_approx_quantiles",
    "q18_stats", "q18b_corr", "q7_window_rank",
    "x2_dedup_near", "x13_minhash_lsh", "x14_cosine_neardup", "x16_ivf_ann",
    "x19_tfidf", "x23_simhash_neardup", "x24_dedup_clusters", "x11b_rolling_fp",
    // round-3 ops with partitioning-sensitive shapes: distinct-df agg,
    // sorted collect_list + pair explode, bucket self-join, vocab join,
    // broadcast min rate, per-writer window prefix sums
    "x25_boilerplate", "x26_winnowing", "x27_semantic_dedup",
    "x28_surprisal", "x30_mixture", "x70_temp_mixture", "x31_packing",
    "x33_dedup_eval", "x34_source_report", "x35_canonical_pick",
    "x36_incremental_dedup",
    // the bigram LM: three left joins against vocab tables + a
    // checkpointed per-doc frame + the bounded-histogram median cut —
    // none of it may see partitioning
    "x40_bigram_lm",
    // the two-level global prefix sum: per-bucket offsets + partitioned
    // windows must compose to the same running sums at any parallelism
    "x65_budget_select",
    // decile curve: the (source, term) min-agg's combine tree and the
    // broadcast (min, span) mapping must not see partitioning
    "x64_vocab_growth",
    // split assignment rides the x24 label fixpoint (iterative, its own
    // per-round shuffles) — the split must be a pure label function
    "x63_split_assign",
    // sticky splits: TWO label fixpoints (history-restricted + full)
    // composed through a per-cluster distinct-count — neither fixpoint's
    // round structure nor the count-distinct merge may see partitioning
    "x68_split_stable",
    // BPE train+apply: each round's argmax is a 1-row TakeOrdered over
    // an exact pair count — the (n DESC, l, r) total order must yield
    // the same merge table (and thus the same replay) at any parallelism
    "x67_bpe_apply",
    // the frozen word-type encode: the history-trained weighted argmax
    // chain + char-level replay must be partition-invariant end to end
    "x67b_bpe_frozen",
    // the snapshot diff: a full-outer join's null sides drive the status
    // classification — join partitioning must not reach the rollup
    "x41_dataset_diff",
    // cohort retention: distinct → min-per-user → join-back chain
    "q30_retention",
    // the custom physical operator: a partition-local merge is the classic
    // place for partitioning-dependent results to sneak in
    "q16b_asof_native",
    // the split skew join: hot/cold branch union + exact hot detection
    // must not depend on how the stats pass or the branches partition
    "q24_skew_join",
    // the salted equi-join: salt routing re-buckets the shuffle, which
    // must never reach the result
    "q25_salted_join",
    // incremental labels: the seed fixpoint + the arrival-incident
    // contraction compose through two CC runs and a coalesce-keyed join
    // — neither fixpoint's round structure may see partitioning
    "x75_inc_labels",
    // the BM25 screen: map-side tf/df partial aggregation + the ≤5-row
    // max broadcast — floor-division sums must combine identically
    "x73_bm25_decontam",
    // label reconciliation: two staged lattices joined into a 2-cell
    // rollup — agreement counts must not see how either side partitions
    "x76_label_agreement",
    // the bloom semi-join reduction: the probe's false-positive set must
    // die in the join, never in the answer
    "q26_bloom_join",
    // the heavy-hitter sketch: the freqItems candidate set IS
    // partitioning-dependent near the boundary; the verdict row (exact
    // hitters + guaranteed-side membership flag) must not be
    "q27_freq_items",
    // the native MG aggregate: partial summaries merge in shuffle order —
    // the merged candidate set shifts at the boundary, the verdict must not
    "q27b_freq_deep",
    // per-group MG summaries: group-local merge trees vary with the
    // shuffle; each group's verdict must not
    "q27c_freq_grouped",
    // the global shuffle order: rank comes from sampled range boundaries
    // + per-slice windows — the total-order rank must not see either
    "x39_shuffle_order",
    // the HLL sketch rollup: union is register-wise max (merge-tree
    // invariant by construction) — the verdict row must prove it
    "q28_hll_rollup",
    // the CMS point probe: cell-wise-additive merge + a top-k twin whose
    // boundary ties break on user_id — neither may see partitioning
    "q28b_cms_counts",
    // the theta overlap: per-week unions merge through the shuffle and
    // the intersection reads the collected sketches — exact mode at
    // this SF, so the whole row set must be partition-invariant
    "q28c_theta_overlap",
    // the KLL quantile rollup: compaction is RANDOMIZED, so the sketch
    // bytes legitimately differ run to run — only the 2ε-slack rank
    // verdict may reach the output, and IT must not see partitioning
    "q29_kll_rollup",
    // native per-row expressions + the e2e stage composition
    "x7_simhash", "x38_pipeline_e2e",
    // the stream-gate harnesses: a real multi-batch streaming run each —
    // state-store folds and the bloom probe must not see partitioning
    "s8_novelty_stream", "s9_temporal_asof",
    // the streaming MG summaries: per-(lang, slot) state across batches;
    // the slot-union membership verdict must not see partitioning
    "s10_freq_stream",
    // the streaming HLL aggregation: sketch buffers merge through the
    // state store across batches — the bound verdict must not see
    // the stateful shuffle's partitioning
    "s11_distinct_stream",
    // the streaming SCD2 build: open/closed emission pairs collapse by
    // max(valid_to) — neither the state shuffle nor the collapse may
    // leak partitioning into the reconstructed interval table
    "s12_scd2_stream",
    // the streaming GK quantiles: summary buffers merge through the
    // state store in shuffle-dependent order and GK is order-dependent —
    // only the deterministic-ε rank verdict may reach the output
    "s13_quantile_stream",
    // the dense-grid gap fill: a left join's null side drives the fill
    // groups and two windows share the user exchange — neither the join
    // nor the grid explode may leak partitioning into the carried values
    "q31_gapfill",
    // the bounded-heap top-k: partial summaries merge in shuffle order;
    // selection under a total order must make that invisible
    "x42_grouped_topk",
    // its streaming twin: the same buffers merging through the state
    // store across micro-batches — exact parity is the gate, so the
    // full row set must be partition-invariant
    "s14_topk_stream",
    // the anomaly twin: daily counts fold through the state store and
    // the z² verdict reads the folded table — exact parity gate, so
    // every flag must be partition-invariant
    "s15_anomaly_stream",
    // substring dedup: a gram-hash df filter + join-back + per-doc lead
    // window — neither the shared-gram shuffle nor the interval merge
    // may leak partitioning into the coverage counts
    "x43_substring_dedup",
    // log compaction: struct-max partials merge in shuffle order; the
    // unique leading event_id must make that invisible
    "c9_compact",
    // bottom-k-by-hash sampling: the drawn doc set must be identical
    // under any partitioning — the whole point of hash priorities
    "x44_group_sample",
    // source-overlap: collect_set order varies with partitioning; the
    // sort_array + ordered pair explode must make that invisible
    "x45_source_overlap",
    // PassJoin: segment/probe candidate sets vary with nothing, but the
    // union + distinct + double join-back chain crosses three shuffles —
    // the verified pair set must be identical under any partitioning
    "x46_edit_join",
    // z-order cells: normalization bounds cross a broadcast and the cell
    // rollup is all integer bit math — neither may see partitioning
    "x47_zorder",
    // constraint audit: per-table one-pass sums + a count-distinct + the
    // fk left join — every verdict count must be partition-invariant
    "x48_constraint_audit",
    // prefix-filtered set-similarity: rank windows, posting-list
    // enumeration and the double verify join cross four shuffles — the
    // exact pair set must be identical under any partitioning
    "x49_setsim_join",
    // anomaly flags: the integer z-square predicate reads a trailing
    // frame over the daily rollup — neither the rollup shuffle nor the
    // frame may leak partitioning into a single flag
    "q32_anomaly",
    // quarantine routing: per-row codegen'd bits + one dup-id window —
    // every mask must be identical under any partitioning
    "x50_quarantine",
    // cluster-balanced sampling: k-means assignment (iterative, via the
    // shared stage) + bottom-k heap partials merging in shuffle order —
    // the drawn set per cluster must be identical under any partitioning
    "x53_cluster_sample",
    // BPE pair stats: two exploded hash aggs + broadcast vocab joins +
    // TakeOrdered — the top-20 under the (n_pair, l, r) total order must
    // not see how pair partials merged
    "x54_bpe_pairs",
    // cluster purity: the (cid, label) count partials and two per-cid
    // windows — majority selection under the (n, label) total order must
    // not see the count shuffle
    "x55_cluster_purity",
    // BPE training: six iterated argmax-collect → string-rewrite rounds,
    // each reading a pair-count shuffle — one partitioning-dependent
    // argmax would cascade into every later merge, so the whole merge
    // sequence is the sensitive artifact
    "x62_bpe_train",
    // IVF recall QA: three qid-keyed windows over a broadcast-scored
    // frame + the assign⋈probes flag join — every exact-integer recall
    // must be partition-invariant
    "x51b_ivf_recall",
    // PQ codes: floor-division codebook means fold from shuffled
    // partials and the code pivot rides a (vec_id, m) rank window —
    // neither may move a single code or err_sq
    "x56_pq_codes",
    // IVF-PQ ADC search: coarse routing + LUT join + ADC sum + limit-10
    // + exact re-rank join — five shuffle-crossing stages whose output
    // set must be identical under any partitioning
    "x57_ivf_pq",
    // PQ recall QA: per-query LUT broadcast + three qid-keyed windows
    // over the scored frame — every exact-integer recall must be
    // partition-invariant
    "x58_pq_recall",
    // streaming index maintenance: per-row route/encode literals + one
    // streaming (count, sum) row per list folding across micro-batches —
    // exact parity flags must hold under any partitioning
    "s16_pq_stream",
    // OHLC bars: open/close read two row_number orderings over the bar
    // exchange — the (ts, event_id) total order must make partitioning
    // invisible in every cell
    "q33_resample",
    // series search: the day-grid broadcast, the sorted collect_list
    // series build, and the per-row bound+verify — neither the daily
    // rollup shuffle nor the series agg may move a single lb/d2
    "x59_series_search",
    // DTW search: the same series build feeding the native DP expression
    // and a TakeOrdered — the top-5 under the (dtw, user) total order
    // must not see partitioning
    "x60_dtw_search",
    // SAX retrieval: global breakpoint agg broadcast back + the
    // (seg, sym) inverted-index join + candidate count — symbols and the
    // verified top-10 must not see partitioning
    "x61_sax_search")

  test("stage consumers are invariant to the stage materialization mode") {
    // every consumer of graft.ops.Stages, run once with localCheckpoint
    // stages (default) and once with parquet stages (spark.graft.stageDir)
    val consumers = Seq("x2_dedup_near", "x13_minhash_lsh", "x24_dedup_clusters",
      "x27_semantic_dedup", "x16_ivf_ann", "x33_dedup_eval", "x35_canonical_pick",
      "x9_quality", "x34_source_report", "x38_pipeline_e2e",
      "x36_incremental_dedup", "s8_novelty_stream",
      // the q27c exact-hitters stage, via both of its consumers
      "q27c_freq_grouped", "s10_freq_stream",
      // the gram stages (round 12): x49's ranked index, x43+x45's shared
      // positional 5-gram frame
      "x49_setsim_join", "x43_substring_dedup", "x45_source_overlap",
      // the x16 centroid stage, via its round-12 sampling consumer
      "x53_cluster_sample",
      // the IVFADC index stage, via both of its consumers
      "x57_ivf_pq", "x58_pq_recall",
      // the daily-series stage, via all three series consumers
      "x59_series_search", "x60_dtw_search", "x61_sax_search")
    val s = spark
    val tmp = tempDir("graft-stages").toString
    try {
      // empty conf value = explicit localCheckpoint override, so this leg
      // tests the default mode even on hosts exporting SPARK_GRAFT_STAGE_DIR
      s.conf.set("spark.graft.stageDir", "")
      graft.ops.Stages.clear()
      val local = consumers.map(n => SparkEntry.queries(n)(s, sf0001).collect().map(_.toString).toSeq)
      s.conf.set("spark.graft.stageDir", tmp)
      graft.ops.Stages.clear()
      val parquet = consumers.map(n => SparkEntry.queries(n)(s, sf0001).collect().map(_.toString).toSeq)
      consumers.lazyZip(local).lazyZip(parquet).foreach { (n, l, p) =>
        assert(l == p, s"$n differs between localCheckpoint and parquet stages")
      }
      // the parquet mode actually materialized stages on disk — under the
      // session's run_<id> subdir (the shared-root isolation layer)
      val written = Option(new java.io.File(tmp).listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("run_"))
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      assert(written.exists(_.getName.startsWith("stage_")),
        s"no parquet stage written under $tmp/run_*")
    } finally {
      s.conf.unset("spark.graft.stageDir")
      graft.ops.Stages.clear()
    }
  }

  test("sketch verdicts hold at parallelism extremes (partitions 1/64 × AQE off/on)") {
    // the sketch family's emitted rows are exact counts + bound flags,
    // and the flags read sketch state whose merge TREES differ most at
    // the parallelism extremes: partitions=1 folds every partial in one
    // task (deepest sequential merge), 64 on a 6k-row corpus maximizes
    // near-empty partials, and AQE coalescing re-cuts the tree at
    // runtime. No flag may flip anywhere in that grid.
    val sketchRows = Seq("q27b_freq_deep", "q27c_freq_grouped",
      "q28_hll_rollup", "q28b_cms_counts", "q28c_theta_overlap", "q29_kll_rollup")
    val s = spark
    val origP = s.conf.get("spark.sql.shuffle.partitions")
    val origAqe = s.conf.get("spark.sql.adaptive.enabled")
    try {
      sketchRows.foreach { name =>
        val fn = SparkEntry.queries(name)
        val runs = for (p <- Seq("1", "64"); aqe <- Seq("false", "true")) yield {
          s.conf.set("spark.sql.shuffle.partitions", p)
          s.conf.set("spark.sql.adaptive.enabled", aqe)
          graft.ops.Stages.clear()
          (p, aqe) -> fn(s, sf0001).collect().map(_.toString).toSeq
        }
        val ((rp, rAqe), ref) = runs.head
        runs.tail.foreach { case ((p, aqe), got) =>
          assert(got == ref,
            s"$name: verdict differs between (partitions=$rp, aqe=$rAqe) and " +
              s"(partitions=$p, aqe=$aqe) — rows ${ref.size} vs ${got.size}")
        }
      }
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", origP)
      s.conf.set("spark.sql.adaptive.enabled", origAqe)
      graft.ops.Stages.clear()
    }
  }

  /** Per stream-gate query: the shuffle widths its state operators
    * reported. The listener bus is async, so [[settled]] first waits for
    * every started gate query's terminated event (it follows the
    * query's last progress). */
  private final class GateWidths extends StreamingQueryListener {
    private val running = TrieMap.empty[java.util.UUID, String]
    private val widths = TrieMap.empty[String, Set[Long]]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (e.name != null && e.name.contains("_gate_")) running.put(e.id, e.name)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      e.progress.stateOperators.foreach { op =>
        if (running.contains(e.progress.id))
          widths.updateWith(e.progress.name)(w => Some(w.getOrElse(Set.empty) + op.numShufflePartitions))
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      running.remove(e.id)
    /** The state widths of the gate queries run since the last call. */
    def settled(): Map[String, Set[Long]] = {
      val deadline = System.currentTimeMillis() + 30000
      while (running.nonEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(running.isEmpty, s"gate queries not terminated: ${running.values}")
      val out = widths.toMap
      widths.clear()
      out
    }
  }

  test("results are invariant to spark.sql.shuffle.partitions (1, 3, 17)") {
    val s = spark
    val original = s.conf.get("spark.sql.shuffle.partitions")
    // the stream gates cap their shuffle width; the sweep lifts the cap so
    // every leg runs at the width it sets, and each stateful gate's state
    // operators must report exactly that width
    val gates = new GateWidths
    s.streams.addListener(gates)
    val statefulAt17 = scala.collection.mutable.Set.empty[String]
    try {
      sample.foreach { name =>
        val fn = SparkEntry.queries(name)
        val runs = Seq("1", "3", "17").map { p =>
          s.conf.set("spark.sql.shuffle.partitions", p)
          // the stage cache would serve run 1's materialization to runs
          // 2 and 3 and trivially mask the property under test — each
          // run must rebuild its stages under its own partitioning
          graft.ops.Stages.clear()
          val rows = graft.streaming.StreamGate.uncapped(fn(s, sf0001).collect().map(_.toString).toSeq)
          gates.settled().foreach { case (q, w) =>
            assert(w == Set(p.toLong), s"$name: gate query $q ran its state at widths $w, not $p")
            if (p == "17") statefulAt17 += name
          }
          p -> rows
        }
        val (refP, ref) = runs.head
        runs.tail.foreach { case (p, got) =>
          // zipAll so a row-count divergence (the classic nondeterminism
          // symptom) still shows the first uneven row, not None
          val firstDiff = got.zipAll(ref, "<missing>", "<missing>")
            .find(t => t._1 != t._2)
          assert(got == ref,
            s"$name: result differs between shuffle.partitions=$refP and $p " +
              s"(rows ${ref.size} vs ${got.size}; first diff: $firstDiff)")
        }
      }
      assert(statefulAt17.nonEmpty, "no stateful stream gate ran in the 17-wide leg")
    } finally {
      s.streams.removeListener(gates)
      s.conf.set("spark.sql.shuffle.partitions", original)
    }
  }
}
