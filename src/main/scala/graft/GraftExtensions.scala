package graft

import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import graft.functions.{BloomBits, BpeEncode, CharEntropy, CosineSimilarity, CountMinSketch, HllRegisters, KMinValues, MinHashSignature, MisraGries, MrlQuantile, MrlSketchAgg, MrlUnionAgg, MultiPatternCounts, NfcNormalize, RandomHyperplaneBucket, SimHash64, SortedIntersectSize}

/** Spark session extension: registers graft's custom Catalyst expressions
  * as SQL functions, so the whole similarity/dedup toolkit is reachable
  * from `spark.sql(...)` without touching the Scala API:
  *
  *   cosine_sim(a, b)             — fused codegen cosine over float arrays
  *   rhp_bucket(v, planes)        — random-hyperplane LSH bucket bits
  *   sorted_intersect_size(a, b)  — merge-walk |A ∩ B| of sorted arrays
  *   minhash_sig(h, k)            — AGG: k-perm minhash signature of hashes
  *   simhash64(h)                 — AGG: 64-bit simhash of token hashes
  *   kmin_values(h, k)            — AGG: KMV theta sketch (k smallest distinct hashes)
  *   count_min(key, depth, width) — AGG: count-min sketch cells (row-major
  *                                  depth x width array; mergeable by linearity)
  *   bloom_bits(h, mBits, kHashes) — AGG: bloom-filter bitmap of a hash
  *                                  column (mBits/64 longs; mergeable by OR)
  *   hll_registers(key, p)        — AGG: HyperLogLog max-rho registers over
  *                                  md5-56 (2^p longs; mergeable by MAX;
  *                                  exactly replayable cross-engine)
  *   bpe_encode(w, merges)        — greedy BPE symbols of a word; merges is a
  *                                  literal array of 'left right' lines (the
  *                                  public merges-file format), vocab-bounded
  *   multi_pattern_counts(t, ps)  — one-pass Aho-Corasick per-pattern counts;
  *                                  ps is a literal array (blocklist-bounded)
  *   nfc_normalize(t)             — Unicode NFC canonical composition
  *   char_entropy(t)              — (n_chars, n_distinct, h_bits) struct:
  *                                  row-local Shannon entropy in bits
  *   mrl_sketch(v, k)             — AGG: mergeable MRL quantile sketch
  *                                  (BINARY; deterministic compactors)
  *   mrl_union(sk)                — AGG: union of stored MRL sketches
  *   mrl_quantile(sk, q)          — quantile estimate from an MRL sketch
  *
  * Enable with:
  *   SparkSession.builder().config("spark.sql.extensions", "graft.GraftExtensions")
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def litInt(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, _)   => v
    case Literal(v: Long, _)  => v.toInt
    case Literal(v: Short, _) => v.toInt
    case Literal(v: Byte, _)  => v.toInt
    case _ => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $e")
  }

  /** The non-NULL strings of a foldable (literal) array argument. */
  private def litStrings(e: Expression, fn: String, arg: String): Seq[String] = {
    require(e.foldable, s"$fn: $arg must be a LITERAL array of strings " +
      "(a model artifact, not per-row data)")
    e.eval() match {
      case a: ArrayData =>
        (0 until a.numElements()).map { i =>
          val u = a.getUTF8String(i)
          require(u != null, s"$fn: $arg must not contain NULL (element $i)")
          u.toString
        }
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be an array of strings, got $other")
    }
  }

  /** A Column builder applied to an argument expression. */
  private def viaColumn(e: Expression)(f: Column => Column): Expression =
    GraftColumnBridge.expression(f(GraftColumnBridge.column(e)))

  private def register(ext: SparkSessionExtensions, name: String,
      builder: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name),
      builder))

  override def apply(ext: SparkSessionExtensions): Unit = {
    register(ext, "cosine_sim", { children =>
      require(children.length == 2, "cosine_sim expects exactly 2 arguments")
      CosineSimilarity(children.head, children(1))
    })
    register(ext, "rhp_bucket", { children =>
      require(children.length == 2, "rhp_bucket expects (vector, planes)")
      RandomHyperplaneBucket(children.head, litInt(children(1), "rhp_bucket", "planes"))
    })
    register(ext, "sorted_intersect_size", { children =>
      require(children.length == 2, "sorted_intersect_size expects exactly 2 arguments")
      SortedIntersectSize(children.head, children(1))
    })
    register(ext, "minhash_sig", { children =>
      require(children.length == 2, "minhash_sig expects (hash, k)")
      MinHashSignature(children.head, litInt(children(1), "minhash_sig", "k"))
        .toAggregateExpression()
    })
    register(ext, "simhash64", { children =>
      require(children.length == 1, "simhash64 expects exactly 1 argument")
      SimHash64(children.head).toAggregateExpression()
    })
    register(ext, "kmin_values", { children =>
      require(children.length == 2, "kmin_values expects (hash, k)")
      KMinValues(children.head, litInt(children(1), "kmin_values", "k"))
        .toAggregateExpression()
    })
    register(ext, "count_min", { children =>
      require(children.length == 3, "count_min expects (key, depth, width)")
      CountMinSketch(children.head,
        litInt(children(1), "count_min", "depth"),
        litInt(children(2), "count_min", "width"))
        .toAggregateExpression()
    })
    register(ext, "bloom_bits", { children =>
      require(children.length == 3, "bloom_bits expects (hash, mBits, kHashes)")
      BloomBits(children.head,
        litInt(children(1), "bloom_bits", "mBits"),
        litInt(children(2), "bloom_bits", "kHashes"))
        .toAggregateExpression()
    })
    register(ext, "hll_registers", { children =>
      require(children.length == 2, "hll_registers expects (key, p)")
      HllRegisters(children.head, litInt(children(1), "hll_registers", "p"))
        .toAggregateExpression()
    })
    register(ext, "misra_gries", { children =>
      require(children.length == 2, "misra_gries expects (key, k)")
      MisraGries(children.head, litInt(children(1), "misra_gries", "k"))
        .toAggregateExpression()
    })
    register(ext, "nfc_normalize", { children =>
      require(children.length == 1, "nfc_normalize expects exactly 1 argument")
      viaColumn(children.head)(NfcNormalize(_))
    })
    register(ext, "char_entropy", { children =>
      require(children.length == 1, "char_entropy expects exactly 1 argument")
      viaColumn(children.head)(CharEntropy(_))
    })
    register(ext, "mrl_sketch", { children =>
      require(children.length == 2, "mrl_sketch expects (value, k)")
      MrlSketchAgg(children.head, litInt(children(1), "mrl_sketch", "k"))
        .toAggregateExpression()
    })
    register(ext, "mrl_union", { children =>
      require(children.length == 1, "mrl_union expects exactly 1 argument")
      MrlUnionAgg(children.head).toAggregateExpression()
    })
    register(ext, "mrl_quantile", { children =>
      require(children.length == 2, "mrl_quantile expects (sketch, q)")
      MrlQuantile(children.head, children(1))
    })
    register(ext, "multi_pattern_counts", { children =>
      require(children.length == 2,
        "multi_pattern_counts expects (text, patterns: array of strings)")
      val pats = litStrings(children(1), "multi_pattern_counts", "patterns")
      viaColumn(children.head)(MultiPatternCounts(_, pats))
    })
    register(ext, "bpe_encode", { children =>
      require(children.length == 2,
        "bpe_encode expects (word, merges: array of 'left right' strings)")
      val lines = litStrings(children(1), "bpe_encode", "merges")
      val merges = lines.map { line =>
        // no limit: 'a b c' must be REJECTED, not parsed as ('a', 'b c')
        // — symbols can't contain spaces, and buildRanks keys ranks by
        // the space-joined pair, so a space inside a symbol is ambiguous
        val sp = line.split(" ")
        require(sp.length == 2 && sp(0).nonEmpty && sp(1).nonEmpty,
          s"bpe_encode: merge line '$line' must be exactly 'left right'")
        (sp(0), sp(1))
      }
      viaColumn(children.head)(BpeEncode(_, merges))
    })
  }
}
