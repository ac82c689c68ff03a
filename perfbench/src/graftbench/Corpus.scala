package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** One generated document: id, text and event time (epoch µs). */
final case class Doc(id: Long, text: String, tsMicros: Long)

/** The shape of the repository's near-dup fixture (the sf0.01
  * `documents` table, perfbench/data/sf0.01/documents.parquet), measured
  * when a run starts: its vocabulary, its docs' word counts, and the
  * share of docs that exactly copy an earlier doc or nearly copy one
  * (word 3-shingle Jaccard >= `Corpus.NearJaccard`). */
final case class Profile(vocab: Array[String], lengths: Array[Int],
                         exactShare: Double, nearShare: Double) {
  def describe: String =
    s"fixture_docs=${lengths.length} vocabulary=${vocab.length} " +
      s"words/doc=${lengths.min}..${lengths.max} " +
      f"exact_share=$exactShare%.3f near_share=$nearShare%.3f"
}

/** A seeded near-dup corpus and the novel-id set it implies.
  *
  * Its shape is the fixture's (`Profile`): words drawn uniformly from the
  * fixture's vocabulary, each doc's length drawn from the fixture's word
  * counts, and exact and near copies at the fixture's shares. A near
  * copy is, as in the fixture, its original with one word appended: at
  * the fixture's shortest doc (10 words) that is a 3-shingle Jaccard of
  * 8/9, so an LSH miss at 128 hashes / 32 bands has probability
  * (1-(8/9)^4)^32 < 1e-13.
  *
  * Ids increase in arrival order and event time advances `StepMs` per
  * id, so one-hour windows finalize while a stream runs. Copies follow
  * their original within `MaxCopyLagDocs` ids, i.e. inside the
  * operator's 10-minute lateness, so streaming and batch near-dup
  * semantics coincide: the novel set is exactly the originals. */
final class Corpus(val docs: Array[Doc], val novel: Set[Long],
                   val exactDups: Int, val nearDups: Int,
                   val profile: Profile) {
  def describe: String = {
    val lens = docs.map(_.text.count(_ == ' ') + 1)
    s"docs=${docs.length} words/doc=${lens.min}..${lens.max} " +
      s"vocabulary=${profile.vocab.length} exact_dups=$exactDups " +
      f"(${100.0 * exactDups / docs.length}%.1f%%) near_dups=$nearDups " +
      f"(${100.0 * nearDups / docs.length}%.1f%%) novel=${novel.size}; " +
      profile.describe
  }
}

object Corpus {
  val FixtureFile = "perfbench/data/sf0.01/documents.parquet"
  val NearJaccard = 0.8
  /** Event-time step per id; 2024-01-01T00:00Z is id 0. */
  val StepMs = 2000L
  val BaseMs = 1704067200000L
  /** 250 ids x 2 s = 8m20s, inside NearDupOp's 10-minute lateness. */
  val MaxCopyLagDocs = 250

  private def shingles(w: Array[String]): Set[String] =
    w.sliding(3).map(_.mkString(" ")).toSet

  def jaccard(a: Array[String], b: Array[String]): Double = {
    val (sa, sb) = (shingles(a), shingles(b))
    (sa intersect sb).size.toDouble / (sa union sb).size
  }

  /** Measure the fixture's shape. */
  def profile(fixture: Path): Profile = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val r = ParquetReader.builder(new GroupReadSupport(),
      new org.apache.hadoop.fs.Path(fixture.toUri)).withConf(conf).build()
    val texts = try Iterator.continually(r.read()).takeWhile(_ != null)
      .map(_.getString("text", 0)).toVector finally r.close()
    val words = texts.map(_.split(" "))
    val sh = words.map(shingles)
    def j(a: Int, b: Int): Double =
      (sh(a) intersect sh(b)).size.toDouble / (sh(a) union sh(b)).size
    val exact = texts.indices.count(i => texts.indexOf(texts(i)) < i)
    val near = texts.indices.count(i => (0 until i).exists(k =>
      texts(k) != texts(i) && j(k, i) >= NearJaccard))
    Profile(words.flatten.distinct.toArray, words.map(_.length).toArray,
      exact.toDouble / texts.size, near.toDouble / texts.size)
  }

  /** `n` documents with ids `0 until n`, shaped like `p`. */
  def generate(seed: Long, n: Int, p: Profile): Corpus = {
    val rnd = new scala.util.Random(seed)
    val originals = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Array[String])]
    val novel = scala.collection.mutable.Set.empty[Long]
    var exact = 0
    var near = 0
    val docs = Array.tabulate(n) { i =>
      val id = i.toLong
      while (originals.nonEmpty && originals.head._1 < id - MaxCopyLagDocs)
        originals.remove(0)
      val r = rnd.nextDouble()
      val words =
        if (originals.nonEmpty && r < p.exactShare + p.nearShare) {
          val src = originals(rnd.nextInt(originals.size))._2
          if (r < p.exactShare) { exact += 1; src }
          else {
            val copy = src :+ p.vocab(rnd.nextInt(p.vocab.length))
            require(jaccard(src, copy) >= NearJaccard,
              s"near copy below Jaccard $NearJaccard")
            near += 1
            copy
          }
        } else {
          val len = p.lengths(rnd.nextInt(p.lengths.length))
          val w = Array.fill(len)(p.vocab(rnd.nextInt(p.vocab.length)))
          originals += ((id, w))
          novel += id
          w
        }
      Doc(id, words.mkString(" "), (BaseMs + id * StepMs) * 1000L)
    }
    new Corpus(docs, novel.toSet, exact, near, p)
  }

  /** A document far enough ahead in event time (3 h) that every window
    * of `after` finalizes once a stream has read it. */
  def sentinel(after: Corpus, seed: Long): Doc = {
    val last = after.docs.last
    val id = last.id + 1
    val rnd = new scala.util.Random(seed ^ 0x5e17L)
    Doc(id, Iterator.fill(40)("sentinel" + rnd.nextInt(1000000))
      .mkString(" "), last.tsMicros + 3L * 3600L * 1000000L)
  }

  private val schema = MessageTypeParser.parseMessageType(
    """message doc {
      |  required int64 doc_id;
      |  required binary text (STRING);
      |  required int64 ts (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** Write `docs` as one parquet file (doc_id, text, ts). */
  def writeParquet(path: Path, docs: Seq[Doc]): Unit = {
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withConf(hadoopConf).withType(schema).build()
    val f = new SimpleGroupFactory(schema)
    try docs.foreach { d =>
      w.write(f.newGroup().append("doc_id", d.id).append("text", d.text)
        .append("ts", d.tsMicros))
    } finally w.close()
  }

  /** Atomic landing: a file staged elsewhere on the same file system
    * appears in `dir` complete or not at all. */
  def land(staged: Path, dir: Path): Path =
    Files.move(staged, dir.resolve(staged.getFileName),
      StandardCopyOption.ATOMIC_MOVE)
}
