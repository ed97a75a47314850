package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** Registers the engine's custom Catalyst expressions as SQL functions, so
  * `spark.sql("SELECT fingerprint64(text) ...")` works next to the Column
  * API. Install with
  * `SparkSession.builder().withExtensions(new GraftExtensions)`, or call
  * [[GraftFunctions.register]] on a live session; both read [[GraftFunctions.all]].
  */
object GraftFunctions {

  /** The one function table: (SQL name, expression class, builder). The
    * text kernels carry the engine's default shape parameters (the Column
    * API exposes the knobs; SQL gets the canonical configuration). */
  val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("fingerprint64", classOf[Fingerprint64], es => Fingerprint64(es.head)),
    ("simhash64", classOf[SimHash64], es => SimHash64(es.head)),
    ("cosine_similarity", classOf[CosineSimilarity], es => CosineSimilarity(es(0), es(1))),
    ("word_shingle_set", classOf[ShingleSet], es => ShingleSet(es.head, 3, 0)),
    ("char_shingle_set", classOf[ShingleSet], es => ShingleSet(es.head, 3, 1)),
    ("minhash_sig", classOf[MinHashSig], es => MinHashSig(es.head, 64)),
    ("sorted_intersect_count", classOf[SortedLongIntersectCount],
      es => SortedLongIntersectCount(es(0), es(1))),
    ("nfc_normalize", classOf[NfcNormalize], es => NfcNormalize(es.head)),
    ("char_entropy", classOf[CharEntropy], es => CharEntropy(es.head)),
    ("squared_distance", classOf[SquaredDistance], es => SquaredDistance(es(0), es(1))),
    ("winnow_fingerprints", classOf[WinnowFingerprintsExpr],
      es => WinnowFingerprintsExpr(es.head, 8, 4)),
    ("word_grams", classOf[WordGramsExpr], es => WordGramsExpr(es.head, 2)),
    ("cdc_chunks", classOf[CdcChunksExpr], es => CdcChunksExpr(es.head, 8, 1)))

  /** Runtime registration on a live session — for sessions that already
    * exist. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    all.foreach { case (name, _, builder) =>
      org.apache.spark.sql.GraftSqlBridge.registerFunction(spark, name, builder)
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, clazz, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name), builder))
    }
}
