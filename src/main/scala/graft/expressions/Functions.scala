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

  private[graft] val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("kepler_solve", classOf[KeplerSolve],
      (exprs: Seq[Expression]) => KeplerSolve.coerced(exprs.head, exprs(1))),
    ("word_shingles", classOf[WordShingles],
      (exprs: Seq[Expression]) => WordShingles(exprs.head, litInt(exprs(1), "word_shingles", "n"))),
    ("minhash_sig", classOf[MinHashSig],
      (exprs: Seq[Expression]) => MinHashSig(exprs.head, litInt(exprs(1), "minhash_sig", "hashes"))),
    ("minhash_bands", classOf[MinHashBands],
      (exprs: Seq[Expression]) => MinHashBands(exprs.head,
        litInt(exprs(1), "minhash_bands", "hashes"),
        litInt(exprs(2), "minhash_bands", "bands"),
        litInt(exprs(3), "minhash_bands", "shingleN"))),
    ("xxminhash_bands", classOf[XxMinHashBands],
      (exprs: Seq[Expression]) => XxMinHashBands(exprs.head,
        litInt(exprs(1), "xxminhash_bands", "hashes"),
        litInt(exprs(2), "xxminhash_bands", "bands"),
        litInt(exprs(3), "xxminhash_bands", "shingleN"))),
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
