package graftbench

import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.security.MessageDigest

class BenchSpec extends AnyFunSuite {

  private def digest(xs: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    xs.foreach(x => md.update((x + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def inputs(seed: Long): String = digest(
    (0L until 2000L).iterator.map(i => ServeGen.row(seed, Sizes.serveUsers)(i).toString) ++
      (0 until 3).iterator.flatMap(b => Ingest.batchRows(seed, b).map(_.toString)) ++ {
        val s = CurateGen.shard(seed, 0, 300)
        s.docs.iterator.map(_.toString) ++ s.vecs.iterator.map(v => s"${v.vec_id} ${v.embedding.mkString(",")} ${v.label}")
      })

  private def opList(seed: Long): String = {
    val g = new Serve.OpGen(seed, Sizes.serveUsers, 300)
    val r = new java.util.SplittableRandom(Rng.mix(seed, 400, 0))
    digest(Iterator.fill(200)(g.next().render) ++
      Iterator.tabulate(50)(b => M.render(Ingest.randomSelector(r, IngestGen.usersAfter(b), b))))
  }

  test("the tail percentile refuses to report with fewer than 10 samples beyond it") {
    assert(Stats.tail((1 to 99).map(_.toDouble), 0.9).isEmpty)
    assert(Stats.tail((1 to 100).map(_.toDouble), 0.9).nonEmpty)
    assert(Stats.tail((1 to 199).map(_.toDouble), 0.95).isEmpty)
    assert(Stats.tail((1 to 5).map(_.toDouble), 0.5).isEmpty)
  }

  test("the same seed gives byte-identical inputs and op lists, another seed does not") {
    assert(inputs(7) == inputs(7))
    assert(opList(7) == opList(7))
    assert(inputs(7) != inputs(8))
    assert(opList(7) != opList(8))
  }

  test("planted near-duplicates have 3-gram Jaccard >= 0.8, unplanted pairs do not") {
    for (seed <- Seq(1L, 2L)) {
      val s = CurateGen.shard(seed, 0, Sizes.curateDocs)
      val texts = s.docs.map(_.text)
      assert(s.nearOf.nonEmpty && s.exactOf.nonEmpty && s.twinOf.nonEmpty)
      s.nearOf.foreach { case (d, src) =>
        assert(Ref.jaccard3(texts(d.toInt), texts(src.toInt)) >= 0.8, s"planted pair ($d, $src)")
      }
      // every pair at or above 0.8 joins documents of one planted family
      val family = Ref.components((s.nearOf ++ s.exactOf).toSeq)
      Ref.jaccardPairs(s.docs, 0.8).foreach { case (a, b, j) =>
        assert(family.contains(a) && family.get(a) == family.get(b), s"unplanted pair ($a, $b) has Jaccard $j")
      }
    }
  }

  test("traced and untraced runs execute the same ops with the same row counts") {
    // the forked test JVM's java.io.tmpdir is <run dir>/tmp, as run.py sets it
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val runDir = tmp.getParentFile
    val (endToEnd, perLayer) = metricNames(new File("..", "BENCHMARK.json"))
    for (w <- Seq("serve", "ingest", "curate")) {
      val logs = Seq("0", "1").map { t =>
        Option(runDir.listFiles()).getOrElse(Array.empty[File]).foreach(Bench.rmrf)
        tmp.mkdirs()
        val (line, rec) = Main.run(Array("--workload", w, "--seed", "3", "--seconds", "1",
          "--trace", t, "--run-dir", runDir.getPath, "--record", new File(runDir, "record.json").getPath))
        assert(line.contains("\"correct\": true"), s"$w trace=$t: $line")
        val (kind, names) = if (t == "1") ("per-layer", perLayer) else ("end-to-end", endToEnd)
        names.foreach(m => assert(line.contains("\"" + m + "\""), s"$w: $kind $m missing"))
        rec("op_log").asInstanceOf[Seq[Seq[Any]]]
      }
      val n = math.min(logs(0).size, logs(1).size)
      assert(n >= 5, s"$w ran only $n ops")
      assert(logs(0).take(n) == logs(1).take(n), s"$w: op sequences differ")
    }
  }

  /** The end-to-end and the per-layer metric names of BENCHMARK.json. */
  private def metricNames(f: File): (Seq[String], Seq[String]) = {
    val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val (e2eAt, perLayerAt) = (txt.indexOf("\"end_to_end\""), txt.indexOf("\"per_layer\""))
    val (e2e, perLayer) = (txt.substring(e2eAt, perLayerAt), txt.substring(perLayerAt))
    def names(block: String) = "\"name\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(block).map(_.group(1)).toSeq
    (names(e2e), names(perLayer))
  }
}
