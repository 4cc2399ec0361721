package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.CheckpointDirs
import org.apache.spark.sql.DataFrame
import graft.operators.{IdentityResolution, Lineage, LinkGraph}

/** [[Lineage]] is the one lineage-cut policy: its reliable branch gives
  * the same rows as the local one, and no operator carries a copy.
  */
class LineageSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("reliable checkpoints return the same rows as local ones") {
    import spark.implicits._
    // two chains, a triangle and a weighted ring; every gated operator
    // is forced onto its distributed loop (smallGraphMaxEdges = 0)
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (3L, 4L, 5L),
      (4L, 5L, 1L), (5L, 6L, 2L), (6L, 4L, 4L), (10L, 11L, 1L),
      (11L, 12L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(1L, 10L).toDF("node")
    def runAll(): Seq[Seq[String]] = Seq(
      rows(IdentityResolution.connectedComponents(
        edges.select("src", "dst"), smallGraphMaxEdges = 0L)),
      rows(LinkGraph.shortestPaths(edges, "src", "dst", "w", seeds, "node",
        rounds = 8, smallGraphMaxEdges = 0L)),
      rows(LinkGraph.kCore(edges, "src", "dst", k = 2, rounds = 3)),
      rows(LinkGraph.pageRank(edges, "src", "dst", iters = 3,
        smallGraphMaxEdges = 0L)))
    val local = runAll()
    val reliable = CheckpointDirs.withTempCheckpointDir(spark.sparkContext) { dir =>
      val r = runAll()
      // the reliable branch really ran: checkpoint files were written
      assert(dir.listFiles().nonEmpty)
      r
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(local.forall(_.nonEmpty))
    assert(reliable === local)
  }

  test("only Lineage checkpoints, counts a cut or releases blocks") {
    val roots = Seq("src/main/scala/graft/operators",
      "src/main/scala/graft/streaming").map(new File(_))
    roots.foreach(r => assert(r.isDirectory, s"missing $r"))
    val sources = roots.flatMap(_.listFiles().toSeq)
      .filter(_.getName.endsWith(".scala"))
      .map(f => f.getName -> Files.readString(f.toPath))
    val forbidden = Seq("localCheckpoint(", ".checkpoint(", "getCheckpointDir",
      "LogicalRDD")
    val copies = for {
      (name, text) <- sources if name != "Lineage.scala"
      token <- forbidden if text.contains(token)
    } yield s"$name: $token"
    assert(copies === Nil, "lineage policy outside Lineage.scala")
    val constants = for {
      (name, text) <- sources
      m <- """\bva[lr]\s+(\w*MaxEdges)\b""".r.findAllMatchIn(text)
    } yield s"$name: ${m.group(1)}"
    assert(constants === Seq("Lineage.scala: DriverTierMaxEdges"))
  }
}
