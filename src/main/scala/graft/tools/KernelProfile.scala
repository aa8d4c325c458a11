package graft.tools

import java.util.SplittableRandom

import graft.kernel.{Extractor, PdfParse, PdfPayload, ProbeConfig, Synth}

/** Per-payload-kind kernel cost breakdown (no Spark): answers "where does
  * extraction time go" when weighing kernel optimizations against
  * pipeline-side costs. Round-3 findings (this host, single thread):
  * html ≈ 54 µs/doc, structured-pdf ≈ 270 µs, real-PDF (classic 1.4) ≈
  * 1.1 ms, real-PDF (1.5 ObjStm) ≈ 0.8 ms — and the whole kernel is only
  * ~11% of the measured Spark pipeline cost (~1.06 ms-core/doc at
  * local[32]), the rest being row encoding, the designed bucketing
  * shuffle, and sink-side work. So pipeline throughput is NOT
  * kernel-bound; see BENCH.md §5. */
object KernelProfile {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 30000
    val rows = Array.tabulate(n)(i => (i % 10, Synth.row(42L, i.toLong).html))
    val ex = new Extractor(ProbeConfig())
    rows.take(math.min(5000, n)).foreach { case (_, b) => ex.extract(b) }

    def time(name: String, payloads: Array[Array[Byte]]): Unit = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < payloads.length) { ex.extract(payloads(i)); i += 1 }
      val us = (System.nanoTime() - t0) / 1e3 / payloads.length
      val bytes = payloads.map(p => if (p == null) 0L else p.length.toLong).sum /
        math.max(1, payloads.length)
      println(f"[kprof] $name%-28s n=${payloads.length}%6d avg=$us%8.1f us/doc avg_bytes=$bytes")
    }

    val byKind = rows.groupBy { case (k, _) =>
      if (k <= 5) "html_article" else if (k == 6) "html_linkfarm"
      else if (k == 7) "pdf_text(real+objstm+struct)"
      else if (k == 8) "pdf_scanned(struct)" else "junk/edge"
    }
    byKind.toSeq.sortBy(_._1).foreach { case (name, docs) => time(name, docs.map(_._2)) }

    // real-PDF layouts isolated: identical text through all three forms
    val rng = new SplittableRandom(7)
    val docs = Array.tabulate(400)(_ =>
      Synth.pdfText(new SplittableRandom(rng.nextLong()), 18))
    time("pdf18p_classic14",
      docs.map(d => PdfParse.writePdf(d.pages.map(_.textLayer.split("\n").toSeq))))
    time("pdf18p_objstm15",
      docs.map(d => PdfParse.writePdfObjStm(d.pages.map(_.textLayer.split("\n").toSeq))))
    time("pdf18p_structured", docs.map(PdfPayload.serialize))
    time("pdf18p_cid_identityH",
      docs.map(d => PdfParse.writePdf(d.pages.map(_.textLayer.split("\n").toSeq),
        cidFont = true)))
    time("pdf18p_cid_ucs2cmap",
      docs.map(d => PdfParse.writePdf(d.pages.map(_.textLayer.split("\n").toSeq),
        cidFont = true, cidEncoding = "UniJIS-UCS2-H")))
    time("pdf18p_cid_legacy_rksj",
      docs.map(d => PdfParse.writePdf(d.pages.map(_.textLayer.split("\n").toSeq),
        cidFont = true, cidEncoding = "90ms-RKSJ-H")))

    // JBIG2 scanned layout (round 6): full-page MQ generic region
    // encode at writePdf time, parse + pixel-probe decode measured here
    time("pdf1p_scan_jbig2_1200x1600", Array.tabulate(40)(_ =>
      PdfParse.writePdf(Seq(Seq.empty), images = Seq((1200, 1600)),
        embedJbig2 = true)))

    // decryption overhead isolated: same 18-page docs, owner-locked
    time("pdf18p_rc4_128",
      docs.map(d => PdfParse.writePdf(d.pages.map(_.textLayer.split("\n").toSeq),
        encrypt = Some(graft.kernel.PdfCrypt.Rc4Owner))))
    time("pdf18p_aes256_r6",
      docs.map(d => PdfParse.writePdf(d.pages.map(_.textLayer.split("\n").toSeq),
        encrypt = Some(graft.kernel.PdfCrypt.Aes256Owner))))
  }
}
