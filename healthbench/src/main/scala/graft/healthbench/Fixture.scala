package graft.healthbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.deltalog.DeltaFixtureWriter

/** A delete predicate: removes the ids from `from` on with `id % mod = res`. */
final case class Cut(mod: Int, res: Int, from: Long) {
  def hits(id: Long): Boolean = id >= from && id % mod == res
  def predicate: String =
    (if (from > 0) s"id >= $from AND " else "") + s"id % $mod = $res"
}

/** Row ids `[lo, hi)` of one partition, minus the rows each cut removed. */
final case class Segment(lo: Long, hi: Long, p1: String, p2: String,
                         cuts: Seq[Cut] = Nil) {
  def keeps(id: Long): Boolean = !cuts.exists(_.hits(id))
  def rows: Long = {
    var n = 0L; var id = lo
    while (id < hi) { if (keeps(id)) n += 1; id += 1 }
    n
  }
  def minus(c: Cut): Segment = if (c.from >= hi) this else copy(cuts = cuts :+ c)
  def part: (String, String) = (p1, p2)
}

/** Generated table shape. Sizes are fixed per workload; the seed only
  * permutes which partition is heavy, picks the delete residues and salts
  * the column values, so every seed gives the same amount of work. */
final case class Shape(
    baseRows: Int,            // rows of the v0 overwrite
    appends: Int,             // append commits laid down by the generator
    appendRows: Int,          // rows per append commit
    deletesAfter: Set[Int],   // a predicate DELETE follows these append numbers
    p1Values: Int,            // cardinality of partition column p1
    p2Values: Int,            // cardinality of partition column p2
    skew: Double)             // partition k gets weight skew^k

/** What the generator knows about the table it built (and about every
  * later mutation the workload makes): the analysis record must match it. */
final class Model(val path: String, shape: Shape, seed: Long) {
  private val rnd = new scala.util.Random(seed)
  /** Partition combos in weight order: the seed decides which is heaviest. */
  val parts: IndexedSeq[(String, String)] = rnd.shuffle(
    for (a <- 0 until shape.p1Values; b <- 0 until shape.p2Values)
      yield (('A' + a).toChar.toString, ('x' + b).toChar.toString)).toIndexedSeq
  private val weights = parts.indices.map(k => math.pow(shape.skew, k))
  private val moduli = Iterator.continually(Seq(7, 11, 13, 17)).flatten
  def nextCut(from: Long): Cut = { val m = moduli.next(); Cut(m, rnd.nextInt(m), from) }

  var nextId = 0L
  var version = -1L
  var writes, deletes, optimizes = 0L
  /** Active files: table-relative path → the rows it holds, or None for a
    * DELETE rewrite, whose split of the survivors over files is Spark's
    * choice. The next OPTIMIZE makes every partition one known file again. */
  val files = mutable.Map[String, Option[Seq[Segment]]]()
  /** Parquet files on disk, counted from the filesystem after each change. */
  var onDisk = 0L
  private var live: Seq[Segment] = Nil
  private var liveRows, liveParts = 0L

  def rows: Seq[Segment] = live
  def rows_=(segs: Seq[Segment]): Unit = {
    live = segs.filter(_.rows > 0)
    liveRows = live.map(_.rows).sum
    liveParts = live.map(_.part).distinct.size.toLong
  }
  def recordCount: Long = liveRows
  def partitionCount: Long = liveParts
  def dataFiles: Long = files.size.toLong

  /** `n` fresh ids split over the partitions by weight, one segment each. */
  def newRows(n: Int): Seq[Segment] = {
    val total = weights.sum
    val sizes = weights.map(w => (n * w / total).toLong).toArray
    sizes(0) += n - sizes.sum
    parts.zip(sizes).collect { case ((a, b), k) if k > 0 =>
      val s = Segment(nextId, nextId + k, a, b); nextId += k; s
    }
  }
}

/** Seeded generator: lays every data file down with one Spark write and
  * then writes one commit per version through the engine's commit writer. */
object Fixture {
  val partitionBy = Seq("p1", "p2")

  /** Column values are pure functions of (id, seed), so a rewritten row is
    * byte-for-byte the row it replaces. */
  def withData(ids: DataFrame, seed: Long): DataFrame = {
    def h(salt: Long) = xxhash64(col("id"), lit(seed * 31 + salt))
    val data = Seq(
      (pmod(h(1), lit(50L)) + 1).cast("int").as("qty"),
      (pmod(h(2), lit(1000000L)) / 100.0).as("price"),
      (pmod(h(3), lit(11L)) / 100.0).as("discount"),
      date_add(lit(java.sql.Date.valueOf("2020-01-01")),
        pmod(h(4), lit(2000L)).cast("int")).as("ship_date"),
      concat(lit("note-"), hex(h(5))).as("comment"))
    val rest = ids.columns.filterNot(_ == "id").map(col).toSeq
    ids.select((col("id") +: data) ++ rest: _*)
  }

  private type Flat = (Long, Long, String, String, Int, Seq[Int], Seq[Int], Seq[Long])

  private def flatten(segs: Seq[(Segment, Int)]): Seq[Flat] = segs.map { case (s, c) =>
    (s.lo, s.hi, s.p1, s.p2, c, s.cuts.map(_.mod), s.cuts.map(_.res), s.cuts.map(_.from)) }

  /** (commit, (id, p1, p2)) for every row a flattened segment keeps. */
  private def explode(t: Flat): Iterator[(Int, (Long, String, String))] = {
    val (lo, hi, p1, p2, c, ms, rs, fs) = t
    (lo until hi).iterator
      .filter(id => ms.indices.forall(i => id < fs(i) || id % ms(i) != rs(i)))
      .map(id => (c, (id, p1, p2)))
  }

  /** A DataFrame holding exactly the rows of `segs`, in the table schema,
    * one shuffle partition per table partition. */
  def frame(spark: SparkSession, segs: Seq[Segment], seed: Long): DataFrame = {
    import spark.implicits._
    val ids = spark.createDataset(flatten(segs.map(_ -> 0)))
      .flatMap(t => explode(t).map(_._2)).toDF("id", "p1", "p2")
    withData(ids, seed).repartition(col("p1"), col("p2"))
  }

  /** Parquet files under `table` (relative path → size), `_delta_log`
    * excluded — read straight from the filesystem, not through the engine. */
  def listParquet(table: String): Map[String, Long] = {
    val root = new File(table).toPath
    val out = mutable.Map[String, Long]()
    def walk(f: File): Unit =
      if (f.isDirectory) { if (f.getName != "_delta_log") f.listFiles().foreach(walk) }
      else if (f.getName.endsWith(".parquet"))
        out(root.relativize(f.toPath).toString) = f.length()
    walk(new File(table))
    out.toMap
  }

  def fail(msg: String): Nothing =
    throw new IllegalStateException(s"fixture mismatch: $msg")

  /** Build the table at `path`; returns the bookkeeping for it. */
  def build(spark: SparkSession, path: String, shape: Shape, seed: Long): Model = {
    val m = new Model(path, shape, seed)
    // v0: the engine's own writer, which also emits metaData and protocol
    val base = m.newRows(shape.baseRows)
    DeltaFixtureWriter.write(frame(spark, base, seed), path, "overwrite", partitionBy)
    m.version = 0; m.writes = 1
    listParquet(path).keys.foreach { rel =>
      val part = (valueOf(rel, "p1"), valueOf(rel, "p2"))
      m.files(rel) = Some(base.filter(_.part == part))
    }
    m.rows = base
    // plan commits 1..N: which rows each one's files hold
    sealed trait Op
    case class Append(segs: Seq[Segment]) extends Op
    case class Delete(cut: Cut, survivors: Seq[Segment]) extends Op
    val plan = mutable.ArrayBuffer[Op]()
    var live = base
    for (a <- 1 to shape.appends) {
      val segs = m.newRows(shape.appendRows)
      plan += Append(segs); live = live ++ segs
      if (shape.deletesAfter(a)) {
        val cut = m.nextCut(from = 0)
        live = live.map(_.minus(cut)).filter(_.rows > 0)
        plan += Delete(cut, live)
      }
    }
    // one Spark write lays down every later file: Spark task k holds the
    // rows of commit k, so it writes that commit's file in each partition
    // directory, named part-<k>-...
    val tagged = plan.zipWithIndex.flatMap {
      case (Append(segs), i) => segs.map(_ -> (i + 1))
      case (Delete(_, segs), i) => segs.map(_ -> (i + 1))
    }.toSeq
    val before = listParquet(path).keySet
    val byTask = spark.sparkContext.parallelize(flatten(tagged), 4)
      .flatMap(explode).partitionBy(new HashPartitioner(plan.size + 1)).values
    import spark.implicits._
    withData(byTask.toDF("id", "p1", "p2"), seed)
      .write.mode("append").partitionBy(partitionBy: _*).parquet(path)
    val byCommit = listParquet(path).toSeq.filterNot(f => before(f._1)).map {
      case (rel, size) => (taskOf(rel), rel, size)
    }.groupBy(_._1)
    // ...then one commit per version through the engine's commit writer
    plan.zipWithIndex.foreach { case (op, i) =>
      val v = i + 1
      val files = byCommit.getOrElse(v, Seq.empty).map(t => t._2 -> t._3).sortBy(_._1)
      val segs = op match { case Append(s) => s; case Delete(_, s) => s }
      val parts = segs.filter(_.rows > 0).map(_.part).distinct
      if (files.size != parts.size)
        fail(s"commit $v: ${files.size} files written for ${parts.size} partitions")
      val adds = files.map { case (rel, _) =>
        val part = (valueOf(rel, "p1"), valueOf(rel, "p2"))
        rel -> segs.filter(_.part == part)
      }
      op match {
        case Append(_) =>
          DeltaFixtureWriter.writeCommitStream(path, v, "WRITE",
            Seq("mode" -> "Append", "partitionBy" -> "[p1,p2]"),
            files.iterator, Iterator.empty, partitionBy)
          m.writes += 1
          m.rows = m.rows ++ segs
        case Delete(cut, _) =>
          DeltaFixtureWriter.writeCommitStream(path, v, "DELETE",
            Seq("predicate" -> cut.predicate),
            files.iterator, m.files.keys.toSeq.sorted.iterator, partitionBy)
          m.deletes += 1
          m.files.clear()
          m.rows = segs
      }
      adds.foreach { case (rel, s) => m.files(rel) = Some(s) }
      m.version = v
    }
    m.onDisk = listParquet(path).size.toLong
    m
  }

  private def segmentValue(rel: String, key: String): Option[String] =
    rel.split('/').collectFirst { case s if s.startsWith(key + "=") => s.drop(key.length + 1) }
  def valueOf(rel: String, key: String): String =
    segmentValue(rel, key).getOrElse(fail(s"$rel has no $key= directory"))
  private def taskOf(rel: String): Int =
    "part-(\\d+)-".r.findFirstMatchIn(rel.split('/').last).map(_.group(1).toInt)
      .getOrElse(fail(s"$rel is not a Spark part file"))
}
