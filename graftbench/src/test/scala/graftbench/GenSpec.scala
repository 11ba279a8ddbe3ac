package graftbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The seed changes content only: at the sizes in env.json, document
  * counts, route mix, planted duplicates and corruption, and file counts
  * are identical across three seeds, and byte totals agree within 1%. */
class GenSpec extends AnyFunSuite {
  private val Seeds = Seq(1L, 7L, 123456789L)

  private val sizes: Map[String, Long] = {
    val txt = new String(Files.readAllBytes(Paths.get("env.json")), "UTF-8")
    Seq("pages_html", "warc_pdf", "curate_dedup").map { w =>
      val m = ("\"" + w + "\"\\s*:\\s*\\{\\s*\"docs\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(txt)
      w -> m.getOrElse(fail(s"no size for $w in env.json")).group(1).toLong
    }.toMap
  }

  private def within1pct(xs: Seq[Long]): Unit =
    assert(xs.max - xs.min <= 0.01 * xs.min, s"byte totals differ by more than 1%: $xs")

  test("pages_html: same rows, routes and urls for every seed") {
    val n = sizes("pages_html")
    val per = Seeds.map { seed =>
      var html = 0L; var text = 0L
      val routes = (0L until n).map { i =>
        val p = Gen.pageRow(seed, i)
        html += p.html.length; text += p.text.length
        (p.url, Replay.route(p.html), p.html.isEmpty, p.html.length > graft.pipeline.Extractor.MaxBytes)
      }
      (routes, html, text)
    }
    assert(per.map(_._1).distinct.size == 1)
    val routes = per.head._1.groupBy(_._2).map { case (k, v) => k -> v.size }
    assert(routes("pdf") == n / 20)
    within1pct(per.map(_._2))
    within1pct(per.map(_._3))
  }

  test("warc_pdf: same files, records and routes for every seed") {
    val n = sizes("warc_pdf")
    val files = 8
    val dir = Files.createDirectories(Paths.get("target", "test-warc"))
    val per = Seeds.map { seed =>
      val stats = (0 until files).map { f =>
        Gen.writeWarcFile(dir.resolve(s"f$f.warc.gz"), seed, f, files, n)
      }
      val recs = (0 until files).map { f =>
        val in = Files.newInputStream(dir.resolve(s"f$f.warc.gz"))
        try graft.sources.Warc.records(in).map(r => (r.warc_type, r.url)).toVector
        finally in.close()
      }
      val routes = (0L until n).map(j => Replay.route(Gen.warcPayload(seed, j)._1))
      (stats.map(_._2), recs, routes, stats.map(_._1).sum)
    }
    Files.list(dir).forEach(Files.delete(_))
    Files.delete(dir)
    assert(per.map(_._1).distinct.size == 1)
    assert(per.map(_._2).distinct.size == 1)
    assert(per.head._2.map(_.count(_._1 == "response")).sum == n)
    assert(per.map(_._3).distinct.size == 1)
    within1pct(per.map(_._4))
  }

  test("curate_dedup: same stage counts and near-dup pairs for every seed") {
    val n = sizes("curate_dedup")
    val per = Seeds.map { seed =>
      val exp = Oracle.curate(seed, n, 2)
      val bytes = (0L until n).map(i => Gen.Corpus.text(seed, i).length.toLong).sum
      (exp - "survivors_digest", bytes)
    }
    assert(per.map(_._1).distinct.size == 1, per.map(_._1))
    within1pct(per.map(_._2))
    val pins = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get("expected.json").toFile).get("curate_dedup").get(n.toString)
    val pinned = scala.jdk.CollectionConverters.IteratorHasAsScala(pins.fieldNames()).asScala
      .map(k => k -> pins.get(k).asText).toMap
    assert(Workloads.unpinned(pinned, per.head._1).isEmpty)
  }
}
