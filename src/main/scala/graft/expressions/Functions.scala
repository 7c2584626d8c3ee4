package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.IntegerType

/** The native-expression SQL surface: one registry of (name, class,
  * builder) used by BOTH registration paths — `GraftSession.install`
  * (runtime temp functions on any session) and `GraftExtensions`
  * (`spark.sql.extensions` for sessions graft doesn't create). SQL users
  * get the same codegen'd expressions the DataFrame operators use:
  *
  * {{{ SELECT minhash_sig(word_shingles(text, 3), 8) FROM docs }}}
  *
  * Names: kepler_solve, word_shingles, minhash_sig, minhash_bands,
  * xxminhash_bands, simhash_bits, dot_product, cross_correlate,
  * argmax_pack, normalize_text. A class may serve several names:
  * MinHashBands is both band-key functions, one per hash family.
  */
object Functions {

  /** Size/width parameters (shingle n, hash count, bit width, label bits)
    * are constructor Ints on the expression classes, so the SQL argument
    * must be an integer literal. */
  private def litInt(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $e")
  }

  /** `<family>(text, hashes, bands, shingleN)`: one [[MinHashBands]]
    * class serves both band-key names, each with its hash family. */
  private def bands(family: MinHashFamily)(exprs: Seq[Expression]): Expression = {
    val fn = family.sqlName
    MinHashBands(exprs.head, litInt(exprs(1), fn, "hashes"), litInt(exprs(2), fn, "bands"),
      litInt(exprs(3), fn, "shingleN"), family)
  }

  private[graft] val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("kepler_solve", classOf[KeplerSolve],
      (exprs: Seq[Expression]) => KeplerSolve.coerced(exprs.head, exprs(1))),
    ("word_shingles", classOf[WordShingles],
      (exprs: Seq[Expression]) => WordShingles(exprs.head, litInt(exprs(1), "word_shingles", "n"))),
    ("minhash_sig", classOf[MinHashSig],
      (exprs: Seq[Expression]) => MinHashSig(exprs.head, litInt(exprs(1), "minhash_sig", "hashes"))),
    ("minhash_bands", classOf[MinHashBands], bands(MinHashFamily.Md5Hex)),
    ("xxminhash_bands", classOf[MinHashBands], bands(MinHashFamily.XxHash64)),
    ("simhash_bits", classOf[SimHashBits],
      (exprs: Seq[Expression]) => SimHashBits(exprs.head, litInt(exprs(1), "simhash_bits", "bits"))),
    ("dot_product", classOf[DotProduct],
      (exprs: Seq[Expression]) => DotProduct(exprs.head, exprs(1))),
    ("cross_correlate", classOf[CrossCorrelate],
      (exprs: Seq[Expression]) => CrossCorrelate(exprs.head, exprs(1))),
    ("argmax_pack", classOf[ArgMaxPack],
      (exprs: Seq[Expression]) => ArgMaxPack(exprs.head, exprs(1), litInt(exprs(2), "argmax_pack", "labelBits"))),
    ("normalize_text", classOf[NormalizeText],
      (exprs: Seq[Expression]) => NormalizeText(exprs.head)),
  )

  /** Register every native function on an existing session (idempotent,
    * no extensions mechanism needed). */
  def registerAll(spark: SparkSession): Unit =
    all.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
    }
}
