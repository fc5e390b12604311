package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.expr._

/** SQL-name registration for the sketch functions, so `spark.sql("SELECT
  * bloom_agg(key, 1000, 0.01) FROM t")` works.
  *
  * Two entry points:
  *   - [[GraftExtensions]] for `spark.sql.extensions=graft.sql.GraftExtensions`
  *     (config-time injection, the spark-submit path);
  *   - [[Registry.register]] for an already-built session (tests, notebooks).
  */
object Registry {

  /** (name, builder) for every SQL-exposed function. Aggregates are
    * returned unwrapped — the analyzer wraps AggregateFunction in
    * AggregateExpression during resolution. The build aggregates come
    * from [[SketchKernel.all]], their arity checked against the kernel's
    * signature; the `*_union_agg` entries from [[SketchCodec.all]], one
    * per family codec; and the sketch functions from [[SketchOp.all]],
    * their arity checked against the row's shape: a key query hashes its
    * key, the other queries cast their argument to the core's type.
    */
  type Builder = Seq[Expression] => Expression

  val functions: Seq[(String, Builder)] = Seq[(String, Builder)](
    "abloom_key_hash" -> { args => AbloomKeyHash(args.head) },
    "doc_fingerprint" -> { args =>
      require(args.size == 1, "doc_fingerprint(text)")
      DocFingerprint(args.head)
    },
    "lang_id" -> { args =>
      require(args.size == 1, "lang_id(text)")
      LangId(args.head)
    },
    "text_repetition" -> { args =>
      require(args.size == 1, "text_repetition(text)")
      TextRepetition(args.head)
    },
    "gopher_signals" -> { args =>
      require(args.size == 1, "gopher_signals(text)")
      GopherSignals(args.head)
    },
    "shingle_hashes" -> { args =>
      require(args.size == 2, "shingle_hashes(text, n)")
      ShingleHashes(args(0), foldableInt(args(1), "n"))
    },
    "window_hashes" -> { args =>
      require(args.size == 2, "window_hashes(text, w)")
      WindowHashes(args(0), foldableInt(args(1), "w"))
    },
    "mask_spans" -> { args =>
      require(args.size == 3, "mask_spans(text, positions, w)")
      MaskSpans(args(0), args(1), foldableInt(args(2), "w"))
    },
    "minhash_signature" -> { args =>
      require(args.size == 2, "minhash_signature(hashes, k)")
      MinhashSignature(args(0), foldableInt(args(1), "k"))
    },
    "simhash64" -> { args =>
      require(args.size == 1, "simhash64(text)")
      SimhashText(args.head)
    },
    "jaccard_sorted" -> { args =>
      require(args.size == 2, "jaccard_sorted(a, b)")
      JaccardSorted(args(0), args(1))
    },
    "intersect_count_sorted" -> { args =>
      require(args.size == 2, "intersect_count_sorted(a, b)")
      IntersectCountSorted(args(0), args(1))
    },
    "lsh_signature" -> { args =>
      require(args.size == 2, "lsh_signature(vec, n_planes)")
      LshSignature(args(0), foldableInt(args(1), "n_planes"))
    },
    "lsh_table_signatures" -> { args =>
      require(args.size == 3, "lsh_table_signatures(vec, tables, bits)")
      LshTableSignatures(args(0),
        foldableInt(args(1), "tables"), foldableInt(args(2), "bits"))
    },
    "mix64" -> { args =>
      require(args.size == 1, "mix64(x)")
      Mix64(Cast(args.head, org.apache.spark.sql.types.LongType))
    },
    "vec8_quantize" -> { args =>
      require(args.size == 1, "vec8_quantize(vec)")
      Vec8Quantize(args.head)
    },
    "vec8_dot" -> { args =>
      require(args.size == 2, "vec8_dot(a, b)")
      Vec8Dot(args(0), args(1))
    },
    "vec_cosine" -> { args =>
      require(args.size == 2, "vec_cosine(a, b)")
      VecCosine(args(0), args(1))
    },
    "vec8_scale" -> { args =>
      require(args.size == 1, "vec8_scale(a)")
      Vec8Scale(args.head)
    },
    "media_meta" -> { args =>
      require(args.size == 1, "media_meta(payload)")
      MediaMetaExpr(args.head)
    },
    "media_content_stats" -> { args =>
      require(args.size == 1, "media_content_stats(payload)")
      MediaContentStats(args.head)
    },
    "media_frame_stats" -> { args =>
      require(args.size == 1, "media_frame_stats(payload)")
      MediaFrameStats(args.head)
    },
    "media_encode" -> { args =>
      require(args.size == 5, "media_encode(kind, variant, width, height, duration_ms)")
      import org.apache.spark.sql.types.{IntegerType, LongType}
      MediaEncode(args(0), Cast(args(1), LongType), Cast(args(2), IntegerType),
        Cast(args(3), IntegerType), Cast(args(4), LongType))
    },
    "topk_agg" -> { args =>
      require(args.size == 4, "topk_agg(score, id, payload, k)")
      import org.apache.spark.sql.types.{DoubleType, LongType}
      // payload is NOT cast: any Catalyst type rides opaquely
      TopKAgg(Cast(args(0), DoubleType), Cast(args(1), LongType),
        args(2), foldableInt(args(3), "k"))
        .toAggregateExpression()
    }) ++ SketchKernel.all.map { kernel =>
      // cbf_agg(key, capacity[, fp_rate]) is insert-only, MATCHING the
      // Scala API's argument order; the weighted form has its own name so
      // a 3-arg SQL call can never silently bind capacity as a weight
      val name = if (kernel eq CbfKernel) "cbf_agg_weighted" else kernel.name
      name -> kernel.sqlBuilder(name)
    } ++ Seq("cbf_agg" -> CbfKernel.sqlBuilder("cbf_agg", "weight" -> Literal(1))) ++
    SketchCodec.all.map { codec =>
      s"${codec.family}_union_agg" -> { (args: Seq[Expression]) => SketchUnionAgg(args.head, codec) }
    } ++ SketchOp.all.map { op =>
      op.name -> { (args: Seq[Expression]) =>
        require(args.size == op.arity, op.signature)
        op.shape match {
          case SketchOp.Alone => SketchSummary(args(0), op)
          case SketchOp.Pair => SketchQuery(args(0), args(1), op)
          case SketchOp.Arg(LongType, _) => SketchQuery(args(0), AbloomKeyHash(args(1)), op)
          case SketchOp.Arg(t, _) => SketchQuery(args(0), Cast(args(1), t), op)
        }
      }
    }

  private def foldableInt(e: Expression, name: String): Int = {
    require(e.foldable, s"$name must be a constant")
    e.eval() match {
      case n: Number => n.intValue()
      case d: org.apache.spark.sql.types.Decimal => d.toInt
      case other => throw new IllegalArgumentException(s"$name must be integral, got $other")
    }
  }

  /** Register all sketch functions on an existing session, plus the
    * automatic bloom join pre-filter rule (via experimental optimizations
    * — config-time sessions get it through [[GraftExtensions]] instead).
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
    val rules = Seq(graft.plans.InjectBloomPreFilter, graft.plans.HoistSketchKeyHash)
    val extra = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = extra ++ rules.filterNot(extra.contains)
    val strategy = graft.plans.SketchAggStrategy(spark)
    val extraS = spark.experimental.extraStrategies
    if (!extraS.exists(_.isInstanceOf[graft.plans.SketchAggStrategy]))
      spark.experimental.extraStrategies = extraS :+ strategy
  }
}

/** `--conf spark.sql.extensions=graft.sql.GraftExtensions` */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Registry.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        builder))
    }
    // Pre-CBO batch: runs ONCE after the operator-optimization fixpoint
    // (stats available, no ping-pong with PushDownPredicates) — the same
    // slot Spark's own InjectRuntimeFilter effectively occupies.
    ext.injectPreCBORule(_ => graft.plans.InjectBloomPreFilter)
    ext.injectPlannerStrategy(graft.plans.SketchAggStrategy(_))
  }
}
