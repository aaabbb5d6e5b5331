package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/**
  * Reliable-checkpoint option for the iterative/persisted dedup pipelines:
  * with `graft.dedup.reliableCheckpoint=true` AND a checkpoint dir set, the
  * localCheckpoint materialization barriers become reliable checkpoints —
  * same results, but intermediates survive executor loss (the cluster
  * deployment story for a multi-hour 100 TB dedup run). Default behavior
  * (no conf) is unchanged: executor-local blocks, zero files.
  */
class ReliableCheckpointSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (12L, 12L))
    .toDF("id_a", "id_b")

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "completely different content about spark query engines and shuffles")
  ).toDF("doc_id", "text")

  private def withReliable[T](f: => T): (T, java.io.File) = {
    val dir = Files.createTempDirectory("graft-ckpt").toFile
    spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    spark.conf.set("graft.dedup.reliableCheckpoint", "true")
    try (f, dir)
    finally spark.conf.unset("graft.dedup.reliableCheckpoint")
  }

  private def ckptFiles(dir: java.io.File): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(dir).filter(_.getName.startsWith("part-"))
  }

  test("connected components: identical clusters, intermediates on reliable storage") {
    val base = Dedup.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (rel, dir) = withReliable {
      Dedup.connectedComponents(edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(rel == base)
    assert(ckptFiles(dir).nonEmpty,
      "reliable mode must write checkpoint part files (lineage cut on storage, not executor blocks)")
  }

  test("minhash pipeline: same pairs under reliable checkpointing") {
    val base = Dedup.nearDupPairs(docs, "doc_id", "text", 0.7).df
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (rel, _) = withReliable {
      Dedup.nearDupPairs(docs, "doc_id", "text", 0.7).df
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(rel == base && rel.contains((0L, 1L)))
  }

  test("distributed connected components: reliable barriers compute their rows once") {
    // The input's last operator is a nondeterministic filter that counts
    // its rows. It sits above a repartition on (id_a, id_b), so it is not
    // pushed below the shuffle, and the first barrier's distinct needs no
    // exchange of its own: every computation of that barrier's rows runs
    // the filter once per input row.
    val evals = spark.sparkContext.longAccumulator("cc-input-evals")
    val counted = udf { (_: Long) => evals.add(1); true }.asNondeterministic()
    val raw = (1L until 40L).map(i => (i, i + 1)) ++ Seq((100L, 101L), (101L, 102L))
    val input = raw.toDF("id_a", "id_b")
      .repartition(4, col("id_a"), col("id_b"))
      .filter(counted(col("id_a")))
    def run(): Set[(Long, Long)] = {
      evals.reset()
      Dedup.connectedComponents(input, smallGraphMaxEdges = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val base = run()
    assert(evals.value == raw.size, "the lazy local barrier computes its rows once")
    val (rel, _) = withReliable(run())
    assert(rel == base)
    assert(evals.value == raw.size,
      s"reliable mode evaluated the ${raw.size} input edges ${evals.value} times")
  }

  test("default path writes no checkpoint files even when a dir is set") {
    val dir = Files.createTempDirectory("graft-ckpt-off").toFile
    spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    // conf flag absent → localCheckpoint, storage-only
    Dedup.connectedComponents(edges).collect()
    assert(ckptFiles(dir).isEmpty)
  }
}
