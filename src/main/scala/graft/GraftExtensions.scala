package graft

import org.apache.spark.sql.{GraftSqlBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{BloomBuildAgg, BloomMightContain, FloatVecDot, HashedShingleSet, MinHashSig, SimHashLong, SortedIntersectCount, TopKByAgg}

/** SQL surface for the library's custom Catalyst expressions
  * (`spark.sql("SELECT float_vec_dot(a, b) ...")`).
  *
  * Two registration paths:
  *   - at session build: `spark.sql.extensions=graft.GraftExtensions`
  *     or `.withExtensions(new GraftExtensions)`;
  *   - on a live session: `GraftExtensions.register(spark)` (the
  *     extensions mechanism only applies at build time).
  *
  * The DataFrame API reaches the same expressions through
  * `graft.functions.VectorFunctions.dotD` / `DedupOps`, so this is
  * surface parity for SQL-first callers, not new semantics.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
    ext.injectResolutionRule(_ => graft.plans.AsofSqlRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}

object GraftExtensions {
  private[graft] val dotBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, "float_vec_dot(a, b) takes two array<float> args")
    FloatVecDot(args(0), args(1))
  }

  private[graft] val simhashBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      "simhash_long(tokens, bits) takes an array<string> and a literal bit width")
    SimHashLong(args(0), intLiteral(args(1), "simhash_long bit width"))
  }

  private def intLiteral(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => other.eval() match {
      case i: Int => i
      case _ => throw new IllegalArgumentException(s"$what must be an integer literal")
    }
  }

  private[graft] val shingleSetBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      "hashed_shingle_set(tokens, k) takes an array<string> and a literal width")
    HashedShingleSet(args(0), intLiteral(args(1), "hashed_shingle_set width"))
  }

  private[graft] val minhashBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1,
      "minhash_sig(hashes) takes one array<long> argument (library A/B constants)")
    MinHashSig(args(0), graft.operators.DedupOps.MinHashAB)
  }

  private[graft] val winnowSetBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 3,
      "winnowed_fingerprint_set(tokens, k, w) takes an array<string> and two literal ints")
    graft.functions.WinnowedFingerprintSet(args(0),
      intLiteral(args(1), "winnowed_fingerprint_set k"),
      intLiteral(args(2), "winnowed_fingerprint_set w"))
  }

  private[graft] val intersectBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      "sorted_intersect_count(a, b) takes two sorted array<long> args")
    SortedIntersectCount(args(0), args(1))
  }

  private[graft] val bowScoreBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      "hashed_bow_score(tokens, weights) takes array<string> tokens and an integral-element weight table")
    graft.functions.HashedBowScore(args(0), args(1))
  }

  private[graft] val topkBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 3,
      "topk_by(score, id, k) takes a double score, bigint id and literal k")
    TopKByAgg(args(0), args(1), intLiteral(args(2), "topk_by k"))
  }

  private[graft] val bloomBuildBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 3,
      "bloom_build(key, expectedItems, fpp) takes a bigint key and literal sizing")
    val items = args(1) match {
      case Literal(v: Long, _) => v
      case Literal(v: Int, _) => v.toLong
      case other => throw new IllegalArgumentException(
        s"bloom_build expectedItems must be an integer literal, got $other")
    }
    val fpp = args(2) match {
      case Literal(v: Double, _) => v
      case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toDouble
      case other => throw new IllegalArgumentException(
        s"bloom_build fpp must be a numeric literal, got $other")
    }
    BloomBuildAgg(args(0), items, fpp)
  }

  private[graft] val bloomProbeBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      "bloom_might_contain(bloom, key) takes a constant binary sketch and a bigint key")
    BloomMightContain(args(0), args(1))
  }

  private[graft] val cmsBuildBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "cms_build(key) takes one bigint argument")
    graft.functions.CmsBuildAgg(args(0))
  }

  private[graft] val cmsEstimateBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      "cms_estimate(cms, key) takes a constant binary sketch and a bigint key")
    graft.functions.CmsEstimate(args(0), args(1))
  }

  private[graft] val asofLeBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      "asof_le(probeTs, buildTs) takes the LEFT (probe) and RIGHT (build) timestamps")
    graft.plans.AsofLE(args(0), args(1))
  }

  private[graft] val packCodesBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1,
      "pack_codes(codes) takes one array<integral> of 0..255 codes")
    graft.functions.PackCodes(args(0))
  }

  private[graft] val sq8SdcDistBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      "sq8_sdc_dist(a, b) takes two binary packed code arrays")
    graft.functions.Sq8SdcDist(args(0), args(1))
  }

  /** THE function table both registration paths walk: (SQL name,
    * expression class, builder). Listed after the builders, which it
    * reads at object initialization. */
  private[graft] val functions
      : Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("float_vec_dot", classOf[FloatVecDot], dotBuilder),
    ("simhash_long", classOf[SimHashLong], simhashBuilder),
    ("hashed_shingle_set", classOf[HashedShingleSet], shingleSetBuilder),
    ("minhash_sig", classOf[MinHashSig], minhashBuilder),
    ("winnowed_fingerprint_set",
      classOf[graft.functions.WinnowedFingerprintSet], winnowSetBuilder),
    ("sorted_intersect_count", classOf[SortedIntersectCount],
      intersectBuilder),
    ("topk_by", classOf[TopKByAgg], topkBuilder),
    ("bloom_build", classOf[BloomBuildAgg], bloomBuildBuilder),
    ("bloom_might_contain", classOf[BloomMightContain], bloomProbeBuilder),
    ("cms_build", classOf[graft.functions.CmsBuildAgg], cmsBuildBuilder),
    ("cms_estimate", classOf[graft.functions.CmsEstimate],
      cmsEstimateBuilder),
    ("hashed_bow_score", classOf[graft.functions.HashedBowScore],
      bowScoreBuilder),
    ("pack_codes", classOf[graft.functions.PackCodes], packCodesBuilder),
    ("sq8_sdc_dist", classOf[graft.functions.Sq8SdcDist], sq8SdcDistBuilder),
    ("asof_le", classOf[graft.plans.AsofLE], asofLeBuilder))

  /** Register every function on a live session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      GraftSqlBridge.registerFunction(spark, name, builder)
    }
}
