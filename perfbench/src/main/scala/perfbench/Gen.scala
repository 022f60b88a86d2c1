package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate

import scala.collection.mutable

/** Seeded input generators. Every generator writes plain text files with a
  * fixed byte layout (no Spark, no UUIDs, no timestamps), so the same seed
  * gives byte-identical inputs, and returns the planted truth the checkers
  * compare the engine's output against. */
object Gen {

  /** Syllable-built vocabulary: `n` distinct lowercase words, the same for
    * every seed (the seed only chooses which words a document uses). */
  def vocabulary(n: Int): Array[String] = {
    val syl = Array("ba", "ce", "di", "fo", "gu", "la", "me", "ni", "po", "ru",
      "sa", "te", "vi", "zo", "xa", "qui", "tra", "ple", "cho", "ner")
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      var x = i; val sb = new StringBuilder
      do { sb.append(syl(x % syl.length)); x /= syl.length } while (x > 0)
      sb.append(syl((i * 7 + 3) % syl.length)) // at least two syllables
      out(i) = sb.toString
      i += 1
    }
    out
  }

  private def writer(f: File): BufferedWriter = {
    f.getParentFile.mkdirs()
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
  }

  private def words(rnd: java.util.Random, vocab: Array[String], n: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(vocab(rnd.nextInt(vocab.length)))
      i += 1
    }
    sb.toString
  }

  val Epoch2023: Long = LocalDate.of(2023, 1, 1).toEpochDay
  val Days4y: Int = (LocalDate.of(2027, 1, 1).toEpochDay - Epoch2023).toInt
  def yearOf(epochDay: Long): Int = LocalDate.ofEpochDay(epochDay).getYear

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  // ------------------------------------------------------------ star schema

  final case class StarSizes(clients: Int, products: Int, facts: Int)

  final case class StarTruth(
      counts: Map[String, Long],        // expected rows per star table
      idSums: Map[String, Long],        // sum of the numeric fact ids per fact table
      yearCounts: Map[(String, Int), Long],
      quarantined: Long,                // CSV rows the reader flags as corrupt
      inputRows: Long,
      inputBytes: Long,
      planted: Map[String, Long])       // dirty cases planted, by kind

  val FactTables: Seq[String] = Seq("comentarios", "encuestas", "webreviews")
  val Years: Seq[Int] = 2023 to 2026

  /** Six reference-shaped CSVs (FIXTURES.md §A) carrying every dirty case
    * the reference pipeline exists to clean, one flaw per dirty row so the
    * expected star-schema contents follow from the flaw alone. */
  def star(dir: File, seed: Long, s: StarSizes): StarTruth = {
    val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 1)
    val vocab = vocabulary(3000)
    val planted = mutable.LinkedHashMap[String, Long]().withDefaultValue(0L)
    def plant(k: String): Unit = planted(k) += 1
    val nc = s.clients
    def longName(id: Int) = id % 397 == 0
    var rows = 0L

    // clients: ids 1..nc, then duplicate-id rows and corrupt-id rows
    val cw = writer(new File(dir, "clients.csv"))
    cw.write("IdCliente,Nombre,Email\n")
    var longNames = 0
    for (id <- 1 to nc) {
      val name = if (longName(id)) { longNames += 1; plant("client_name_too_long"); "N" * 120 }
        else s"Cliente Nombre $id"
      // pairs (id, id+1) with id % 211 == 1 share one email: rewritten, not dropped
      val email =
        if (id % 211 == 1 || id % 211 == 2) { plant("client_dup_email"); s"compartido${id - (id % 211) + 1}@clientes.example" }
        else s"c$id@clientes.example"
      cw.write(s"$id,$name,$email\n"); rows += 1
    }
    for (k <- 1 to nc / 100) {
      val id = 1 + rnd.nextInt(nc)
      cw.write(s"$id,Duplicado $k,dup$k@otros.example\n"); rows += 1; plant("client_dup_id")
    }
    for (k <- 1 to nc / 200) {
      cw.write(s"x$k,Corrupto $k,corrupto$k@otros.example\n"); rows += 1; plant("client_corrupt_id")
    }
    cw.close()

    // products: ids 1..np, 12 categories, some null categories, null-id rows
    val np = s.products
    val pw = writer(new File(dir, "products.csv"))
    pw.write("IdProducto,Nombre,Categoría\n")
    for (id <- 1 to np) {
      val cat = if (id % 101 == 0) { plant("product_null_category"); "" } else s"Categoria ${id % 12}"
      pw.write(s"$id,Producto $id,$cat\n"); rows += 1
    }
    for (k <- 1 to 15) { pw.write(s",Sin id $k,Categoria 1\n"); rows += 1; plant("product_null_id") }
    pw.close()

    // fuente_datos: keep-first on TipoFuente, then unparseable dates drop
    val fw = writer(new File(dir, "fuente_datos.csv"))
    fw.write("IdFuente,TipoFuente,FechaCarga\n")
    val fuentes = Seq(("Archivo", "2024-01-15"), ("Web", "2024-02-01"),
      ("Archivo", "2024-03-01"), ("API", "no-es-fecha"), ("Email", "2024-04-10"),
      ("Web", "basura"), ("Tienda", "2024-13-40"), ("Catalogo", "2023-06-30"))
    fuentes.zipWithIndex.foreach { case ((t, f), i) =>
      fw.write(f"F${i + 1}%05d,$t,$f\n"); rows += 1 }
    fw.close()
    val cargas = 4L // Archivo, Web, Email, Catalogo

    // facts: one flaw per dirty row
    val referencedMissing = mutable.HashSet[Int]()
    val counts = mutable.Map[String, Long]().withDefaultValue(0L)
    val idSums = mutable.Map[String, Long]().withDefaultValue(0L)
    val yearCounts = mutable.Map[(String, Int), Long]().withDefaultValue(0L)
    var nextPlaceholder = 0
    val nPlaceholders = nc / 40
    def pickClient(): Int = {
      if (nextPlaceholder < nPlaceholders || rnd.nextInt(100) < 2) {
        // a client with no master row: synthesized as a placeholder
        val id = nc + 1 + (if (nextPlaceholder < nPlaceholders) { nextPlaceholder += 1; nextPlaceholder - 1 }
          else rnd.nextInt(nPlaceholders))
        referencedMissing += id; id
      } else {
        val id = 1 + rnd.nextInt(nc)
        if (longName(id)) id - 1 else id
      }
    }
    def date(): (String, Option[Int]) = {
      val d = Epoch2023 + rnd.nextInt(Days4y)
      (LocalDate.ofEpochDay(d).toString, Some(yearOf(d)))
    }
    def keep(table: String, id: Long, year: Option[Int]): Unit = {
      counts(table) += 1; idSums(table) += id
      year.foreach(y => yearCounts((table, y)) += 1)
    }
    def product(): Int = 1 + rnd.nextInt(np)

    val sw = writer(new File(dir, "social_comments.csv"))
    sw.write("IdComment,IdCliente,IdProducto,Fuente,Fecha,comentario\n")
    val redes = Array("Instagram", "Twitter", "Facebook", "TikTok")
    for (i <- 1 to s.facts) {
      val r = if (i <= nPlaceholders) 100 else rnd.nextInt(100)
      // garbage client ids never reach the required-client universe
      val cli = if (r < 2) s"Cx$i" else s"C${pickClient()}"
      var prod = s"P${product()}"
      var fuente = redes(rnd.nextInt(redes.length)); var (fecha, year) = date()
      var valid = true
      if (r < 2) { valid = false; plant("comment_garbage_client") }
      else if (r < 4) { fuente = ""; valid = false; plant("comment_null_fuente") }
      else if (r < 6) { prod = s"P${np + 1 + rnd.nextInt(np)}"; valid = false; plant("comment_orphan_product") }
      else if (r < 7) { prod = s"Pq$i"; valid = false; plant("comment_garbage_product") }
      else if (r < 8) { fecha = "fecha-desconocida"; year = None; plant("comment_bad_date") }
      sw.write(s"SC$i,$cli,$prod,$fuente,$fecha,${words(rnd, vocab, 8 + rnd.nextInt(12))}\n"); rows += 1
      if (valid) keep("comentarios", i, year)
    }
    sw.close()

    val vw = writer(new File(dir, "surveys_part1.csv"))
    vw.write("IdOpinion,IdCliente,IdProducto,Fecha,Comentario,Clasificacion,PuntajeSatisfaccion\n")
    val clases = Array("Positiva", "Negativa", "Neutra")
    for (i <- 1 to s.facts) {
      val r = rnd.nextInt(100)
      val cli = if (r < 2) s"abc$i" else pickClient().toString
      var prod = product().toString
      var clase = clases(rnd.nextInt(3)); var puntaje = 1 + rnd.nextInt(5)
      var (fecha, year) = date(); var valid = true
      if (r < 2) { valid = false; plant("survey_garbage_client") }
      else if (r < 4) { clase = ""; valid = false; plant("survey_null_clasificacion") }
      else if (r < 6) { puntaje = if (rnd.nextBoolean()) 0 else 6 + rnd.nextInt(4); valid = false; plant("survey_score_out_of_range") }
      else if (r < 8) { prod = (np + 1 + rnd.nextInt(np)).toString; valid = false; plant("survey_orphan_product") }
      else if (r < 9) { fecha = "31/31/2024"; year = None; plant("survey_bad_date") }
      vw.write(s"$i,$cli,$prod,$fecha,${words(rnd, vocab, 8 + rnd.nextInt(12))},$clase,$puntaje\n"); rows += 1
      if (valid) keep("encuestas", i, year)
    }
    vw.close()

    val ww = writer(new File(dir, "web_reviews.csv"))
    ww.write("IdReview,IdCliente,IdProducto,Fecha,Comentario,Rating\n")
    for (i <- 1 to s.facts) {
      val r = rnd.nextInt(100)
      val cli = if (r < 2) s"C-$i-x" else s"C${pickClient()}"
      var prod = s"P${product()}"
      var rating = 1 + rnd.nextInt(5); var (fecha, year) = date(); var valid = true
      if (r < 2) { valid = false; plant("review_garbage_client") }
      else if (r < 4) { rating = if (rnd.nextBoolean()) 0 else 6; valid = false; plant("review_rating_out_of_range") }
      else if (r < 6) { prod = s"P${np + 1 + rnd.nextInt(np)}"; valid = false; plant("review_orphan_product") }
      else if (r < 7) { fecha = "2024-02-30T99"; year = None; plant("review_bad_date") }
      ww.write(s"R$i,$cli,$prod,$fecha,${words(rnd, vocab, 8 + rnd.nextInt(12))},$rating\n"); rows += 1
      if (valid) keep("webreviews", i, year)
    }
    ww.close()

    val truthCounts = Map(
      "clientes" -> ((nc - longNames).toLong + referencedMissing.size),
      "productos" -> np.toLong, "categorias" -> 12L, "clasificaciones" -> 3L,
      "fuentes" -> 4L, "registrocargas" -> cargas) ++
      FactTables.map(t => t -> counts(t))
    StarTruth(truthCounts, FactTables.map(t => t -> idSums(t)).toMap,
      (for (t <- FactTables; y <- Years) yield (t, y) -> yearCounts((t, y))).toMap,
      quarantined = planted("client_corrupt_id"), inputRows = rows,
      inputBytes = dirBytes(dir), planted = planted.toMap)
  }

  // ----------------------------------------------------------------- corpus

  final case class CorpusSizes(docs: Int)

  final case class CorpusTruth(
      survivors: Array[Long],           // sorted ids the pipeline must keep
      emailSurvivors: Long,             // survivors whose text carries an email
      inputRows: Long,
      inputBytes: Long,
      planted: Map[String, Long])

  /** A JSON-lines corpus: distinct docs far below the near-dup threshold,
    * planted exact and near duplicates (Jaccard of word 3-shingles ~0.9,
    * far above 0.8), a boilerplate share whose common blocks skew the LSH
    * buckets without reaching the threshold, short and repetitive docs the
    * quality stages drop, and emails the PII scrub must redact. Each
    * cluster's survivor is its smallest id. */
  def corpus(file: File, seed: Long, s: CorpusSizes): CorpusTruth = {
    val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 2)
    val vocab = vocabulary(20000)
    // twelve fixed 15-word templates, like a site's shared header or footer:
    // the same for every seed, so the bucket skew they cause is too
    val templates = { val t = new java.util.Random(12345); Array.fill(12)(words(t, vocab, 15)) }
    val planted = mutable.LinkedHashMap[String, Long]().withDefaultValue(0L)
    val sources = Array("web", "foro", "noticias", "blog", "wiki")
    val docs = new Array[String](s.docs)
    val survive = new Array[Boolean](s.docs)
    val email = new Array[Boolean](s.docs)
    var i = 0
    var spamPair = 0
    while (i < s.docs) {
      val r = rnd.nextInt(100)
      if (r < 12 && i + 3 < s.docs) {
        // a duplicate cluster: original + 1..3 exact or near copies
        val base = words(rnd, vocab, 60 + rnd.nextInt(40)).split(' ')
        docs(i) = base.mkString(" "); survive(i) = true
        val copies = 1 + rnd.nextInt(3)
        for (c <- 1 to copies) {
          if (rnd.nextInt(3) == 0) { docs(i + c) = docs(i); planted("exact_dup") += 1 }
          else {
            val v = base.clone()
            v(5 + rnd.nextInt(v.length - 10)) = vocab(rnd.nextInt(vocab.length))
            docs(i + c) = v.mkString(" "); planted("near_dup") += 1
          }
        }
        planted("dup_cluster") += 1
        i += copies + 1
      } else {
        if (r < 18) { docs(i) = templates(rnd.nextInt(templates.length)) + " " + words(rnd, vocab, 60 + rnd.nextInt(30)); survive(i) = true; planted("boilerplate") += 1 }
        else if (r < 20) { docs(i) = words(rnd, vocab, 3 + rnd.nextInt(6)); planted("too_short") += 1 }
        else if (r < 22) {
          // two distinct words repeated: the top-bigram share filter drops it
          val a = vocab((2 * spamPair) % vocab.length); val b = vocab((2 * spamPair + 1) % vocab.length)
          spamPair += 1
          docs(i) = Seq.fill(12)(s"$a $b").mkString(" "); planted("repetitive") += 1
        } else if (r < 26) {
          docs(i) = words(rnd, vocab, 30) + s" escribe a usuario${rnd.nextInt(1000000)}@correo.example " +
            words(rnd, vocab, 30)
          survive(i) = true; email(i) = true; planted("email") += 1
        } else { docs(i) = words(rnd, vocab, 40 + rnd.nextInt(60)); survive(i) = true; planted("distinct") += 1 }
        i += 1
      }
    }
    val w = writer(file)
    for (j <- docs.indices) {
      w.write(s"""{"doc_id":${j + 1},"source":"${sources(j % sources.length)}","text":"${docs(j)}"}""")
      w.write('\n')
    }
    w.close()
    val surv = docs.indices.filter(survive).map(_ + 1L).toArray
    CorpusTruth(surv, docs.indices.count(j => survive(j) && email(j)).toLong,
      s.docs.toLong, file.length, planted.toMap)
  }

  // -------------------------------------------------------------------- CDC

  final case class CdcSizes(keys: Int, batches: Int, batchRows: Int)

  /** Payload of one live row. */
  final case class Row(fecha: Long, cliente: Long, producto: Long, puntaje: Int,
                       comentario: String)

  /** Key-level history: for each key, its (batch index, row or deleted)
    * changes in batch order — the state as of any batch without a full
    * snapshot per batch. Batch 0 is the bootstrap. */
  final class CdcTruth(val history: mutable.LongMap[mutable.ArrayBuffer[(Int, Option[Row])]],
                       val yearCounts: Array[Array[Long]], // [batch][year - 2023]
                       val maxKey: Long,
                       val hotKeys: Array[Long],
                       val inputRows: Long,
                       val batchBytes: Array[Long],
                       val planted: Map[String, Long]) {
    def at(key: Long, batch: Int): Option[Row] =
      history.get(key).flatMap { h =>
        var i = h.length - 1
        while (i >= 0 && h(i)._1 > batch) i -= 1
        if (i < 0) None else h(i)._2
      }
  }

  private def jsonRow(key: Long, seq: Long, op: String, r: Option[Row]): String = r match {
    case Some(x) =>
      s"""{"IdOpinion":$key,"seq":$seq,"op":"$op","Fecha":"${LocalDate.ofEpochDay(x.fecha)}","IdCliente":${x.cliente},"IdProducto":${x.producto},"Puntaje":${x.puntaje},"Comentario":"${x.comentario}"}"""
    case None => s"""{"IdOpinion":$key,"seq":$seq,"op":"$op"}"""
  }

  /** Bootstrap rows (`bootstrap.jsonl`) plus one CDC file per batch
    * (`batches/b-00001.jsonl` ...): upserts with hot-key skew, inserts of
    * new keys and deletes of live keys, several changes per key in one
    * batch ordered by `seq`. */
  def cdc(dir: File, seed: Long, s: CdcSizes): CdcTruth = {
    val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 3)
    val vocab = vocabulary(3000)
    val history = mutable.LongMap[mutable.ArrayBuffer[(Int, Option[Row])]]()
    val live = new mutable.ArrayBuffer[Long]()   // live keys (with stale entries, checked on pick)
    val liveSet = mutable.LongMap[Row]()
    val planted = mutable.LinkedHashMap[String, Long]().withDefaultValue(0L)
    def newRow(): Row = Row(Epoch2023 + rnd.nextInt(Days4y), 1 + rnd.nextInt(20000),
      1 + rnd.nextInt(2000), 1 + rnd.nextInt(5), words(rnd, vocab, 6 + rnd.nextInt(10)))
    def record(k: Long, b: Int, r: Option[Row]): Unit = {
      val h = history.getOrElseUpdate(k, mutable.ArrayBuffer())
      if (h.nonEmpty && h.last._1 == b) h(h.length - 1) = (b, r) else h += ((b, r))
      r match { case Some(x) => if (!liveSet.contains(k)) live += k; liveSet(k) = x
                case None => liveSet.remove(k) }
    }
    def yearRow(): Array[Long] = {
      val a = new Array[Long](4)
      liveSet.valuesIterator.foreach(r => a(yearOf(r.fecha) - 2023) += 1)
      a
    }
    var seq = 0L
    var rows = 0L
    val bw = writer(new File(dir, "bootstrap.jsonl"))
    for (k <- 1L to s.keys.toLong) {
      val r = newRow(); record(k, 0, Some(r))
      bw.write(jsonRow(k, 0L, "I", Some(r))); bw.write('\n'); rows += 1
    }
    bw.close()
    val hot = Array.tabulate(math.max(1, s.keys / 100))(i => 1L + rnd.nextInt(s.keys))
    var nextKey = s.keys.toLong + 1
    val yc = mutable.ArrayBuffer(yearRow())
    val bytes = new Array[Long](s.batches + 1)
    for (b <- 1 to s.batches) {
      val f = new File(dir, f"batches/b-$b%05d.jsonl")
      val w = writer(f)
      for (_ <- 1 to s.batchRows) {
        seq += 1
        val r = rnd.nextInt(100)
        def liveKey(): Long = {
          var k = 0L
          do { k = if (rnd.nextInt(100) < 30) hot(rnd.nextInt(hot.length)) else live(rnd.nextInt(live.length)) }
          while (!liveSet.contains(k))
          k
        }
        if (r < 15) {
          val k = nextKey; nextKey += 1; val row = newRow()
          record(k, b, Some(row)); w.write(jsonRow(k, seq, "I", Some(row))); planted("insert") += 1
        } else if (r < 30 && liveSet.size > s.keys / 2) {
          val k = liveKey(); record(k, b, None); w.write(jsonRow(k, seq, "D", None)); planted("delete") += 1
        } else {
          val k = liveKey(); val old = liveSet(k)
          val row = old.copy(puntaje = 1 + rnd.nextInt(5), comentario = words(rnd, vocab, 6 + rnd.nextInt(10)),
            fecha = if (rnd.nextInt(10) == 0) Epoch2023 + rnd.nextInt(Days4y) else old.fecha)
          record(k, b, Some(row)); w.write(jsonRow(k, seq, "U", Some(row))); planted("update") += 1
        }
        w.write('\n'); rows += 1
      }
      w.close()
      bytes(b) = f.length
      yc += yearRow()
    }
    bytes(0) = new File(dir, "bootstrap.jsonl").length
    new CdcTruth(history, yc.toArray, nextKey - 1, hot, rows, bytes, planted.toMap)
  }
}
