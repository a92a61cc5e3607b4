package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cross-engine typing lint over `SparkEntry.oracleSql`.
  *
  * Root cause this guards (round-10's single red row, `rel_q12_priority_class`):
  * DuckDB types `sum(<integer expr>)` as HUGEINT (int128) while Spark emits
  * BIGINT, and the driver's hash compare is type-sensitive — so an oracle whose
  * integer sum is not wrapped in `CAST(... AS BIGINT)` can be value-identical
  * yet hash-mismatch. The local tri-SF verify normalized types and let it slip;
  * this spec makes the defect class fail in `sbt test` before it can fail
  * officially.
  *
  * Rule: every `sum(` in an oracle must either
  *   (a) be wrapped directly in a `CAST( ... )` (the sibling-oracle idiom
  *       `CAST(sum(...) AS BIGINT/DOUBLE)`), or
  *   (b) sum an expression that is provably non-integer in DuckDB — it contains
  *       an explicit non-integer cast (`AS DOUBLE`, `AS DECIMAL`, `::DOUBLE`),
  *       a float literal, or a division (DuckDB `/` yields DOUBLE), or
  *   (c) appear in [[auditedBareSums]] — a query audited by hand as summing a
  *       column that is physically DOUBLE in the fixture parquet (DuckDB
  *       sum(DOUBLE) = DOUBLE = Spark, so the hash agrees).
  * A new bare integer sum therefore cannot land without either the cast or a
  * conscious allowlist entry.
  */
class OracleLintSpec extends AnyFunSuite {

  /** Queries whose bare sums were audited: every name below has a green
    * rows+schema+hash row in the driver's CORRECTNESS_r10.json, meaning its
    * bare sums are either CTE-internal (the final select re-types them) or
    * over a column that is physically DOUBLE in the fixture parquet (DuckDB
    * sum(DOUBLE) = DOUBLE = Spark, so the type-sensitive hash agrees).
    * Adding a name here is a reviewed decision, not a default — a new query
    * with a bare integer sum fails this spec until it is cast or audited. */
  private val auditedBareSums: Set[String] = Set(
    // the three below carry `//` (integer-division) sums that are
    // CTE-internal — green at all three SFs, final selects re-type
    "dedup_simhash", "dedup_simhash_pairs", "rel_pagerank_converged",
    "dedup_cluster_purity", "dedup_keep_quality", "dedup_minhash_est",
    "ev_ab_test", "ev_bounce_rate", "ev_cuped", "ev_forecast_naive",
    "ev_ltv_matrix", "ev_power_analysis", "ev_slo_burn",
    // mm_scene_cuts: the same aHash window-sum-as-mean-test as mm_ahash,
    // per frame; sv is CTE-internal (only compared, never output) and
    // the output sums are cast. Tri-SF green at add time (r11).
    "mm_ahash", "mm_ahash_pairs", "mm_scene_cuts",
    "pipeline_curation", "pipeline_pretrain", "pipeline_rag",
    // pipeline_curation_observed shares pipeline_curation's oracle string
    // verbatim (curationSql) — the qualityPassSql stop-count sum is
    // CTE-internal. Tri-SF green at add time (r16).
    "pipeline_curation_observed",
    // stream_curation reuses pipeline_curation's qualityPassSql CTE —
    // its stop-count sum is CTE-internal (a WHERE comparison, never
    // output). Tri-SF green at add time (r15).
    "stream_curation",
    // stream_curation_observed shares stream_curation's oracle string
    // verbatim (streamCurationSql). Tri-SF green at add time (r16).
    "stream_curation_observed",
    // pipeline_compact_handoff: the same qualityPassSql CTE (stop-count
    // sum CTE-internal); the final select emits only doc_id. Oracle-green
    // at add time (r16, sf0.01).
    "pipeline_compact_handoff",
    // rel_q1_sql_entry shares rel_q1_pricing's oracle verbatim (the
    // bare sum is over the physically-DOUBLE l_quantity)
    "rel_q1_sql_entry",
    // rel_percentiles_grouped / stream_latency_pctl: same class as
    // rel_exact_median — the window sums are CTE-internal rank
    // comparisons, never output. These two postdate round 10; their
    // audit evidence is the r11 tri-SF certification (PASS 271/271 at
    // sf0.001/0.01/0.1, BENCH_NOTES round-11 closing addendum)
    // rel_abc_analysis: the cum/total window sums range over `rev`,
    // which the CTE defines as DECIMAL(38,2) (sum(DECIMAL) stays
    // DECIMAL in DuckDB), and both are CTE-internal boundary
    // comparisons; the output sums are cast. Tri-SF green at add time.
    "rel_abc_analysis",
    "rel_cube", "rel_exact_median", "rel_percentiles_grouped",
    // ev_outlier_iqr: the same ExactPercentiles window sums (rank
    // comparisons, CTE-internal, never output); tri-SF green at add time
    "stream_latency_pctl", "ev_outlier_iqr", "rel_pagerank_iter",
    "rel_pagerank_round2", "rel_pivot", "rel_q17_small_qty",
    "rel_q18_large_orders", "rel_q1_pricing", "rel_q20_excess_stock",
    "rel_rollup", "rel_skew_profile", "rel_unpivot",
    "sim_rrf_fusion",
    // src_zstd_roundtrip shares pricingSql with its three siblings
    // (sum over the physically-DOUBLE l_quantity)
    "src_csv_roundtrip", "src_json_roundtrip", "src_orc_roundtrip",
    "src_zstd_roundtrip",
    "text_bm25", "text_contamination_ngram", "text_entropy",
    "text_langid", "text_langid_eval", "text_len_histogram",
    // text_pack_sweep: the same CAST(COALESCE(sum OVER ...)) offset
    // window as text_pack_sequences (cast sits outside the coalesce);
    // every output sum is cast. Tri-SF green at add time (r11).
    "text_pack_sequences", "text_pack_sweep",
    "text_quality", "text_quality_classifier",
    "text_rare_ratio", "text_training_pairs"
  )

  /** Inner expression is non-integer in DuckDB without an outer cast. */
  private def innerIsTypeStable(inner: String): Boolean = {
    val up = inner.toUpperCase
    up.contains("AS DOUBLE") || up.contains("AS DECIMAL") ||
    up.contains("DECIMAL(") || up.contains("::DOUBLE") ||
    // single-slash division is DOUBLE-typed in DuckDB; `//` is INTEGER
    // division (stays HUGEINT under sum) and must NOT count as stable
    up.replace("//", "").contains("/") ||
    "\\d\\.\\d".r.findFirstIn(inner).isDefined
  }

  /** Extract the balanced-paren argument starting at the '(' at `open`. */
  private def balancedArg(sql: String, open: Int): String = {
    var depth = 0
    var i = open
    while (i < sql.length) {
      sql.charAt(i) match {
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return sql.substring(open + 1, i)
        case _ =>
      }
      i += 1
    }
    sql.substring(open + 1) // unbalanced — lint will flag via content checks
  }

  /** True when the `sum(` at `idx` is directly wrapped in a CAST: the
    * non-whitespace text before it ends with `CAST(`. */
  private def wrappedInCast(sql: String, idx: Int): Boolean = {
    val prefix = sql.substring(0, idx).replaceAll("\\s+", "").toUpperCase
    prefix.endsWith("CAST(")
  }

  test("every integer-typed oracle sum is wrapped in an explicit CAST") {
    val sumRe = "(?i)\\bsum\\s*\\(".r
    val violations = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap {
      case (name, sql) if auditedBareSums.contains(name) => Nil
      case (name, sql) =>
        sumRe.findAllMatchIn(sql).flatMap { m =>
          val open = sql.indexOf('(', m.start)
          val inner = balancedArg(sql, open)
          if (wrappedInCast(sql, m.start) || innerIsTypeStable(inner)) None
          else Some(s"$name: bare integer sum(${inner.take(60)}...)")
        }
    }
    assert(
      violations.isEmpty,
      s"\n${violations.size} oracle sum(s) would be HUGEINT in DuckDB but BIGINT in Spark " +
        "(type-sensitive driver hash diverges even on identical values). " +
        "Wrap in CAST(sum(...) AS BIGINT) or, if the summed column is physically DOUBLE, " +
        "add the query to auditedBareSums:\n  " + violations.mkString("\n  ")
    )
  }

  test("every oracle NDJSON scan keeps sparse fields typed") {
    // DuckDB collapses a field seen on under 10 % of sampled rows to JSON
    // (field_appearance_threshold), and a lambda over a JSON column fails
    // to bind — q6's `includes.places` at real geo coverage
    val scanRe = "(?i)read_json_auto\\s*\\(".r
    val violations = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap {
      case (name, sql) =>
        scanRe.findAllMatchIn(sql).flatMap { m =>
          val args = balancedArg(sql, sql.indexOf('(', m.start))
          if (args.replaceAll("\\s+", "").contains("field_appearance_threshold=0")) None
          else Some(s"$name: read_json_auto(${args.take(60)}...)")
        }
    }
    assert(violations.isEmpty,
      "read_json_auto without field_appearance_threshold=0:\n  " +
        violations.mkString("\n  "))
  }
}
