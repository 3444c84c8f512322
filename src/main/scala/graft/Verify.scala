package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The exact oracle_sql.json payload the driver consumes; shared with
    * OracleTypeAuditSpec so the authoring-time dtype audit sees the
    * same bytes the driver will.
    */
  private[graft] def oracleSqlJson: String =
    SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    // Positional <sfDir> <outDir> stay the driver contract; --key=value
    // argv overrides env overrides GRAFT_CONF file for the rest (S5).
    val cfg = Config(args)
    val positional = args.filterNot(_.startsWith("--"))
    val sfDir = positional.lift(0).getOrElse(cfg.get("sf-dir", "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val outDir = positional.lift(1).getOrElse(cfg.get("out-dir", "SPARK_GRAFT_OUT_DIR", "/tmp/graft_verify"))
    val cpus = cfg.get("cpus", "SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt, appName = "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Non-vacuity guards: an oracle gate that passes on an empty result
    // proves nothing (round 5's q99 selected zero fixture rows and
    // "matched" DuckDB 0 ⟷ 0). A guard violation throws BEFORE the
    // parquet dump so the driver records an err for the query instead
    // of a hollow green — a fixture change can never silently
    // re-vacuate the gate.
    val nonVacuous: Map[String, org.apache.spark.sql.DataFrame => Unit] = Map(
      "q99_incremental_dedup" -> { df =>
        import org.apache.spark.sql.functions.col
        val n = df.count()
        require(n > 0, "q99 vacuous: batch split selects 0 fixture rows")
        val dups = df.filter(col("is_dup")).count()
        require(dups > 0, s"q99 vacuous: $n batch rows but 0 is_dup=true — no candidate was exercised")
      },
      "q118_triangle_cohesion" -> { df =>
        import org.apache.spark.sql.functions.col
        val tri = df.filter(col("triangles") > 0).count()
        require(tri > 0, "q118 vacuous: similarity slice closes 0 triangles — threshold drifted")
      },
      "q123_loop_screen" -> { df =>
        import org.apache.spark.sql.functions.col
        require(
          df.filter(col("loopy")).count() > 0,
          "q123 vacuous: no document crosses the run>=3 loop threshold — corpus drifted")
      },
      "q127_phrase_search" -> { df =>
        import org.apache.spark.sql.functions.col
        require(
          df.filter(col("n_phrase") > 0).count() > 0,
          "q127 vacuous: the probe phrase never aligns — every candidate is conjunctive-only")
      },
      "q139_kcore" -> { df =>
        require(
          df.count() > 0,
          "q139 vacuous: the 2-core is empty — the 0.35 cosine slice lost its cyclic clusters")
      },
      "q141_ingest_anomaly" -> { df =>
        import org.apache.spark.sql.functions.col
        require(
          df.filter(col("flagged")).count() > 0,
          "q141 vacuous: no hour crosses the 3-sigma threshold — ingest rate flattened")
      },
      "q146_copurchase_lift" -> { df =>
        require(
          df.count() > 0,
          "q146 vacuous: no part pair reaches support 3 — basket overlap drifted")
      },
      "q167_bpe_tokenize" -> { df =>
        import org.apache.spark.sql.functions.col
        require(
          df.filter(col("n_toks") > 1).count() > 0,
          "q167 vacuous: every word is a single BPE token — merge fixture saturated the vocab")
        require(
          df.filter(col("n_toks") === 1 && org.apache.spark.sql.functions.length(col("word")) > 1).count() > 0,
          "q167 vacuous: no multi-char word fully merges — merge fixture never fires end-to-end")
      },
      "q148_bfs_dist" -> { df =>
        import org.apache.spark.sql.functions.col
        require(
          df.filter(col("dist") >= 1).count() > 0,
          "q148 vacuous: BFS reached no non-seed node — the similarity graph misses every seed")
      },
      "q170_bpe_bytes_tokenize" -> { df =>
        import org.apache.spark.sql.functions.col
        require(
          df.filter(col("n_toks") > 1).count() > 0 &&
            df.filter(col("n_toks") === 1 && org.apache.spark.sql.functions.octet_length(col("word")) > 1).count() > 0,
          "q170 vacuous: byte-merge fixture never fires (or saturates) — retrain make_bpe.py --bytes")
      },
      "q175_bpe_train" -> { df =>
        require(
          df.count() >= 16,
          "q175 vacuous: training found < 16 merges — corpus pair counts collapsed")
      },
      "q176_bpe_train_bytes" -> { df =>
        require(
          df.count() >= 16,
          "q176 vacuous: byte training found < 16 merges — corpus pair counts collapsed")
      },
      "q177_classifier_train" -> { df =>
        import org.apache.spark.sql.functions.col
        val pos = df.filter(col("w_micro") > 0).count()
        val neg = df.filter(col("w_micro") < 0).count()
        require(
          pos > 0 && neg > 0,
          s"q177 vacuous: trained weights are one-signed (pos=$pos neg=$neg) — " +
            "the GD loop degenerated (all-zero gradients or a collapsed label split)")
      },
      "q178_html_extract" -> { df =>
        import org.apache.spark.sql.functions.{col, length => slen}
        require(
          df.filter(col("n_linky") > 0).count() > 0 &&
            df.filter(col("n_short") > 0).count() > 0 &&
            df.filter(slen(col("text")) > 0).count() > 0,
          "q178 vacuous: boilerplate rules never fired (or nothing extracted) — fixture wrapping broke")
      },
      "q179_encoding_screen" -> { df =>
        import org.apache.spark.sql.functions.col
        require(
          df.filter(!col("suspect")).count() > 0,
          "q179 vacuous: every doc flagged — the moji classes over-match clean text")
      },
      "q180_train_tokenize" -> { df =>
        import org.apache.spark.sql.functions.col
        require(
          df.count() > 0 && df.filter(col("bpe_tokens") < col("n_pretokens")).count() == 0,
          "q180 inconsistent: a pre-token tokenized to < 1 token — trained-table inference broke")
      },
      "q183_url_normalize" -> { df =>
        import org.apache.spark.sql.functions.col
        require(
          df.filter(col("is_dup_url")).count() > 0 &&
            df.filter(!col("is_dup_url")).count() > 0,
          "q183 vacuous: URL-dup verdict is one-sided — the mod-variant construction broke")
      },
      "q184_domain_cap" -> { df =>
        import org.apache.spark.sql.functions.col
        require(
          df.filter(col("keep")).count() > 0 && df.filter(!col("keep")).count() > 0,
          "q184 vacuous: the domain cap never bites (or drops everything)")
      },
      "q190_image_neardup" -> { df =>
        import org.apache.spark.sql.functions.col
        val pairs = df.count()
        val planted = df.filter(col("same_doc")).count()
        // Recall side: planted base<->variant pairs dominate. A small
        // number of cross-image collisions is EXPECTED of dHash
        // (same-dims images share deterministic always-zero bits,
        // shrinking effective entropy) and gives the gate its
        // same_doc=false rows; a collision MAJORITY means the hash
        // degenerated.
        require(
          planted > 0 && planted * 2 > pairs,
          s"q190 vacuous/degenerate: $pairs pairs, only $planted base<->variant — " +
            "expected recovered planted variants to dominate the pair set")
      },
      "q192_audio_neardup" -> { df =>
        import org.apache.spark.sql.functions.col
        val pairs = df.count()
        val planted = df.filter(col("same_doc")).count()
        require(
          planted > 0 && planted * 2 > pairs,
          s"q192 vacuous/degenerate: $pairs pairs, only $planted base<->variant — " +
            "expected recovered planted variants to dominate the pair set")
      },
      "q181_mojibake_repair" -> { df =>
        import org.apache.spark.sql.functions.col
        require(
          df.filter(!col("fixed")).count() > 0,
          "q181 suspicious: every doc repaired — the eligibility gate over-matches clean text")
      },
      "q174_classifier_filter" -> { df =>
        import org.apache.spark.sql.functions.col
        val kept = df.filter(col("keep")).count()
        val dropped = df.filter(!col("keep")).count()
        require(
          kept > 0 && dropped > 0,
          s"q174 vacuous: classifier verdict is one-sided (keep=$kept drop=$dropped) — " +
            "weights fixture degenerated; retrain make_classifier.py")
      })
    // Dev-only subset: --only=q90_weighted_sample,q99_incremental_dedup
    // (the driver passes no --only, so it always dumps the full surface).
    val only = cfg.get("only", "SPARK_GRAFT_ONLY", "").split(',').map(_.trim).filter(_.nonEmpty).toSet
    val selected = if (only.isEmpty) SparkEntry.queries
                   else SparkEntry.queries.filter { case (n, _) => only(n) }
    def deleteRecursively(p: java.io.File): Unit = {
      if (p.isDirectory) Option(p.listFiles()).foreach(_.foreach(deleteRecursively))
      p.delete(): Unit
    }
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Child processes the query loop started. GraftSession keeps Hadoop's
    // local file operations in-process, so no `chmod`/`readlink` shows;
    // Spark's own `rm -rf` of each dropped session's artifact directory
    // (its Cleaner thread) still does.
    val (_, processes) = ExecShape.processStarts {
      selected.foreach { case (name, fn) =>
        // Remove any previous run's dump FIRST: outDir may be reused, and a
        // query that throws below must leave no parquet behind — otherwise
        // the driver's DuckDB compare would grade this round's failure
        // against last round's stale (possibly green) result.
        deleteRecursively(new java.io.File(s"$outDir/$name"))
        try {
          val df = fn(spark, sfDir)
          nonVacuous.get(name).foreach(_.apply(df))
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          // A query whose build/dump throws must still produce a dump, or
          // the driver's compare silently drops it and the round's
          // correctness file shows fewer-but-all-green entries (round 7:
          // 14 events queries vanished and 98/98 read as full parity).
          // Dump a one-row error marker instead: the DuckDB compare then
          // records an explicit red (schema+rows+hash mismatch) entry
          // carrying the exception text.
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failures(name) = String.valueOf(e.getMessage)
          import spark.implicits._
          Seq(("__VERIFY_ERROR__", String.valueOf(e.getMessage).take(500)))
            .toDF("__verify_error", "message")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        }
        // Per-query cache sweep: keeps each dump independent of sibling
        // queries' persisted frames (see GraftSession.releaseAllCaches).
        GraftSession.releaseAllCaches(spark)
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleSqlJson)
    // Loud failure summary (machine-readable beside the dumps, and a
    // final stderr line): the per-query error markers above already
    // force red compare entries; this makes the failure set greppable
    // without parsing parquet.
    val failJson = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), failJson)
    // Compile totals for the whole run: with a codegen cache large
    // enough for the catalog, each distinct class compiles once, so
    // the count is the cache's working set (GraftSession's bound).
    val (compiles, compileNs) = ExecShape.codegenCompiles()
    val byCommand = processes.toSeq.sorted.map { case (c, n) => s"$c $n" }.mkString(" (", ", ", ")")
    System.err.println(f"[verify] codegen: $compiles compilations, ${compileNs / 1e6}%.0f ms compiling; " +
      s"${processes.values.sum} processes started${if (processes.isEmpty) "" else byCommand}")
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size}/${selected.size} queries FAILED: ${failures.keys.mkString(", ")}")
    else
      System.err.println(s"[verify] all ${selected.size} queries dumped ok")
    spark.stop()
  }
}
