package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, XxHash64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL names for the engine's native expression family, injected through
  * `SparkSessionExtensions.injectFunction` so a pure-`spark.sql` user (BI
  * tool, notebook, JDBC client) reaches the same codegen'd operators the
  * Column API wraps — `SELECT graft_minhash_sig(graft_shingle_hashes(
  * split(text, ' '), 3), 64) FROM docs` is the SQL spelling of the dedup
  * pipeline's signature stage. Structural parameters (k, bands, n-gram
  * width, stopword lists) must be LITERALS: they shape the expression tree
  * itself (array widths, generated loops), exactly like the `k` in a SQL
  * `approx_percentile`. Registration lives in
  * [[graft.plans.GraftExtensions]] next to the optimizer rule. */
object GraftFunctionRegistry {

  private type Builder = Seq[Expression] => Expression

  private def arity(fn: String, args: Seq[Expression], n: Int): Unit =
    if (args.length != n)
      throw new IllegalArgumentException(
        s"$fn expects $n arguments, got ${args.length}")

  /** Structural int parameter: a foldable integer literal. */
  private def intArg(fn: String, name: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $name must be an INTEGER literal, got ${other.sql}")
  }

  /** Structural string-list parameter: a foldable array<string>. */
  private def stringSeqArg(fn: String, name: String, e: Expression): Seq[String] = {
    val ok = e.foldable && (e.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })
    if (!ok) throw new IllegalArgumentException(
      s"$fn: $name must be a foldable ARRAY<STRING> (e.g. array('the','a')), " +
        s"got ${e.sql}")
    e.eval() match {
      case a: ArrayData =>
        a.toObjectArray(StringType).map {
          case null => null
          case s: UTF8String => s.toString
        }.toSeq
      case null => Seq.empty
    }
  }

  private def fn(name: String, builder: Builder): (FunctionIdentifier, ExpressionInfo, Builder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(GraftFunctionRegistry.getClass.getCanonicalName, name),
      builder)

  /** name → builder for every injectable graft function. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn("graft_normalize_text", { args =>
      arity("graft_normalize_text", args, 1)
      NormalizeTextExpr(args.head)
    }),
    // xxhash64(normalize(text)) — TextAnalysis.fingerprint's exact tree
    // (XxHash64's default seed is the one functions.xxhash64 uses)
    fn("graft_fingerprint", { args =>
      arity("graft_fingerprint", args, 1)
      XxHash64(Seq(NormalizeTextExpr(args.head)), 42L)
    }),
    fn("graft_token_hashes", { args =>
      arity("graft_token_hashes", args, 1)
      ShingleHashExpr(args.head, 1)
    }),
    fn("graft_shingle_hashes", { args =>
      arity("graft_shingle_hashes", args, 2)
      ShingleHashExpr(args.head, intArg("graft_shingle_hashes", "n", args(1)))
    }),
    fn("graft_minhash_sig", { args =>
      arity("graft_minhash_sig", args, 2)
      MinHashSignatureExpr(args.head, intArg("graft_minhash_sig", "k", args(1)))
    }),
    fn("graft_simhash64", { args =>
      arity("graft_simhash64", args, 1)
      SimHash64Expr(args.head)
    }),
    fn("graft_band_keys", { args =>
      arity("graft_band_keys", args, 3)
      BandKeysExpr(args.head,
        intArg("graft_band_keys", "bands", args(1)),
        intArg("graft_band_keys", "rows", args(2)))
    }),
    fn("graft_hyperplane_bucket", { args =>
      arity("graft_hyperplane_bucket", args, 2)
      HyperplaneBucketExpr(args.head,
        intArg("graft_hyperplane_bucket", "nBits", args(1)))
    }),
    fn("graft_cosine", { args =>
      arity("graft_cosine", args, 2)
      CosineSimilarityExpr(args.head, args(1))
    }),
    fn("graft_array_eq_count", { args =>
      arity("graft_array_eq_count", args, 2)
      ArrayEqCountExpr(args.head, args(1))
    }),
    fn("graft_token_stats", { args =>
      arity("graft_token_stats", args, 2)
      TokenStatsExpr(args.head,
        stringSeqArg("graft_token_stats", "stopwords", args(1)))
    }),
    fn("graft_labels_key", { args =>
      arity("graft_labels_key", args, 1)
      LabelsKeyExpr(args.head)
    }),
    fn("graft_merge_attributes", { args =>
      arity("graft_merge_attributes", args, 2)
      MergeAttributesExpr(args.head, args(1))
    }),
    fn("graft_with_inf_bucket", { args =>
      arity("graft_with_inf_bucket", args, 2)
      InfBucketExpr(args.head, args(1))
    }),
    fn("graft_bucket_delta", { args =>
      arity("graft_bucket_delta", args, 2)
      BucketDeltaExpr(args.head, args(1))
    }),
    fn("graft_max_token_freq", { args =>
      arity("graft_max_token_freq", args, 1)
      MaxTokenFreqExpr(args.head)
    }),
    // Gopher top-2-gram coverage: struct(cnt, gram) winner over adjacent
    // token pairs — graft_top_bigram(split(text, ' '))
    fn("graft_top_bigram", { args =>
      arity("graft_top_bigram", args, 1)
      TopBigramExpr(args.head)
    }),
    // DSIR featurizer: hashed-bigram bucket ids —
    // graft_bigram_buckets(split(text, ' '), 64)
    fn("graft_bigram_buckets", { args =>
      arity("graft_bigram_buckets", args, 2)
      HashedBigramBucketsExpr(args.head,
        intArg("graft_bigram_buckets", "nBuckets", args(1)))
    }),
    // substring-dedup unit: w-token sliding-window hashes —
    // graft_window_hashes(split(text, ' '), 8)
    fn("graft_window_hashes", { args =>
      arity("graft_window_hashes", args, 2)
      TokenWindowHashesExpr(args.head,
        intArg("graft_window_hashes", "w", args(1)))
    }),
    // n-gram counting unit: all w-code-point windows of a string —
    // graft_string_windows(text, 3)
    fn("graft_string_windows", { args =>
      arity("graft_string_windows", args, 2)
      StringWindowsExpr(args.head,
        intArg("graft_string_windows", "w", args(1)))
    }),
    // pinned-vocab greedy subword count over a token array — the SQL
    // spelling of Bpe.count: graft_bpe_count(split(text, ' '))
    fn("graft_bpe_count", { args =>
      arity("graft_bpe_count", args, 1)
      BpeCountExpr(args.head)
    }),
    // conditional-trigram-LM NLL over the PADDED text — the SQL spelling of
    // LmScore.nll: graft_lm_nll(concat(' ', graft_normalize_text(text), ' '))
    fn("graft_lm_nll", { args =>
      arity("graft_lm_nll", args, 1)
      LmNllExpr(args.head)
    }),
    // winnowing fingerprints over the (caller-normalized) text — the SQL
    // spelling of Dedup.winnowFingerprints:
    // graft_winnow_fingerprints(graft_normalize_text(text), 12, 8)
    fn("graft_winnow_fingerprints", { args =>
      arity("graft_winnow_fingerprints", args, 3)
      WinnowFingerprintExpr(args.head,
        intArg("graft_winnow_fingerprints", "k", args(1)),
        intArg("graft_winnow_fingerprints", "w", args(2)))
    }),
    // per-language trigram-NB scores over the PADDED normalized text — the
    // SQL spelling of LangId.scores; compose the padding + argmax in SQL:
    // graft_langid_scores(' ' || graft_normalize_text(text) || ' ')
    fn("graft_langid_scores", { args =>
      arity("graft_langid_scores", args, 1)
      LangIdScoresExpr(args.head)
    }),
    // aggregate: the analyzer wraps a returned AggregateFunction in its
    // AggregateExpression, same as the built-in sum/avg registrations
    fn("graft_merge_buckets", { args =>
      arity("graft_merge_buckets", args, 1)
      MergeBucketsAgg(args.head)
    }))

  def register(ext: SparkSessionExtensions): Unit =
    functions.foreach(ext.injectFunction)
}
