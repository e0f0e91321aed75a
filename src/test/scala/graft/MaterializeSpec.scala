package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Materialize}

/** The one materialization module: the single-policy lint over
  * `src/main`, what `release` and `scope` free, and the two loops that
  * leaked before they went through it (the Bpe re-anchors and the LLM
  * ingest catalog snapshots).
  */
class MaterializeSpec extends GraftSpecBase {

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Persistent RDDs that `body` leaves behind. */
  private def leftBy(body: => Unit): Set[Int] = {
    val before = persisted()
    body
    persisted() -- before
  }

  test("no checkpoint, cache or release in src/main outside Materialize") {
    val banned = """localCheckpoint\(|\.checkpoint\(|\.persist\(|\.cache\(\)|unpersist\(""".r
    val root = Paths.get("src/main/scala")
    val hits = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Materialize.scala")
      .toSeq.sortBy(_.toString).flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if !line.trim.matches("""(//|\*|/\*).*""") &&
              banned.findFirstIn(line.split("//")(0)).isDefined =>
            s"$p:${i + 1}"
        }
      }
    assert(hits.isEmpty, hits.mkString("\n  materialization outside Materialize:\n  ", "\n  ", ""))
  }

  test("release frees a checkpoint, which Dataset.unpersist does not, " +
      "and leaves the frames upstream of it pinned") {
    initLog()
    val up = Materialize.cut(spark.range(100).toDF("id"))
    val ck = Materialize.cut(up.filter(col("id") % 2 === 0))
    val ids = Materialize.pinnedBy(ck) ++ Materialize.pinnedBy(up)
    assert(ids.size == 2 && ids.subsetOf(persisted()))
    ck.unpersist()
    assert(ids.subsetOf(persisted()), "Dataset.unpersist freed a checkpoint")
    Materialize.release(ck)
    assert(persisted().intersect(ids) == Materialize.pinnedBy(up))
    assert(up.count() == 100L)
    Materialize.release(up)
    var cached: DataFrame = null
    val cachedIds = leftBy {
      cached = Materialize.cache(spark.range(10).toDF("id"))
      assert(cached.count() == 10L)
    }
    assert(cachedIds.size == 1)
    Materialize.release(cached)
    assert(persisted().intersect(ids ++ cachedIds).isEmpty)
  }

  test("a scope releases what its result does not read and hands the " +
      "rest to the enclosing scope") {
    initLog()
    var inner: Set[Int] = Set.empty
    val left = leftBy {
      Materialize.scope {
        val kept = Materialize.scope {
          val c = Materialize.cache(spark.range(50).toDF("id"))
          val a = Materialize.cut(c.filter(col("id") < 10))
          val b = Materialize.cut(c.filter(col("id") >= 10))
          inner = Materialize.pinnedBy(a) ++ Materialize.pinnedBy(b)
          assert(inner.subsetOf(persisted()))
          b.select((col("id") * 2).as("x"))
        }
        // b survives the inner scope (its result reads it); a and the
        // cache do not
        assert(persisted().intersect(inner) == Materialize.pinnedBy(kept))
        assert(kept.count() == 40L)
        kept.count()
      }
    }
    assert(left.isEmpty, s"the outer scope left $left")
  }

  private def bpeCorpus = {
    import spark.implicits._
    val letters = "abcdefghijklmnopqrstuvwxyz"
    (0 until 200).map { d =>
      d.toLong -> (0 until 12).map { w =>
        (0 until 6).map(i => letters((d * 7 + w * 13 + i * i * 5 + i) % 26)).mkString
      }.mkString(" ")
    }.toDF("doc_id", "text")
  }

  test("Bpe re-anchors past RepersistEvery leave no persistent RDD") {
    initLog()
    val docs = bpeCorpus
    assert(leftBy(assert(Bpe.trainMerges(docs, rounds = 70).size == 70)).isEmpty)
    assert(leftBy(assert(
      Bpe.trainMergesBatched(docs, rounds = 80, batch = 8).size == 80)).isEmpty)
  }

  test("llmIngestBatch epochs leave no persistent RDD") {
    initLog()
    import spark.implicits._
    def emb(i: Long): Seq[Float] = Seq.tabulate(16)(d =>
      (math.sin(i * 131 + d * 31) + math.cos(i * 17 - d * 7)).toFloat)
    def words(tag: String): String = (0 until 20).map(j => s"$tag$j").mkString(" ")
    val corpus = (0L until 8L).map(i => (i, words(s"c$i-"), emb(i)))
      .toDF("doc_id", "text", "embedding")
    val base = Files.createTempDirectory("graft_ingest_release")
    val idx = base.resolve("idx").toString
    val st = base.resolve("state").toString
    graft.operators.Hnsw.writeHnswIndex(
      corpus.select(col("doc_id").as("vec_id"), col("embedding")), idx, dims0 = 16)
    graft.streaming.IngestPipeline.initCatalogs(corpus, st, window = 10)
    val rules = Seq("min_words" -> (size(split(col("text"), " ")) >= 10))
    val left = leftBy((0L until 3L).foreach { epoch =>
      val id = 100L + epoch
      graft.streaming.IngestPipeline.llmIngestBatch(
        Seq((id, words(s"n$id-"), emb(id))).toDF("doc_id", "text", "embedding"),
        epoch, st, idx, rules, window = 10, dims0 = 16)
    })
    assert(left.isEmpty, s"3 epochs left persistent RDDs $left")
    assert(spark.read.parquet(s"$st/doc_catalog").count() == 11L)
  }
}
