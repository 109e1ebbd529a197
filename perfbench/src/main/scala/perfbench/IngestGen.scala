package perfbench

import scala.util.Random

/** Seeded generator of the reference's sync traffic: per-facility JSON
  * array files of six entities, plus the manifest the output checks
  * compare against. Pure Scala and single-threaded: the same seed,
  * batch index and sizes give byte-identical files and the same
  * manifest.
  */
object IngestGen {

  final case class Sizes(
      facilities: Int,
      filesPerBatch: Int,
      minRecords: Int,
      maxRecords: Int,
      badDateRate: Double)

  /** One landed file. `bad` counts the records carrying an invalid date
    * (they go to quarantine and fail the file); `records - bad` land in
    * staging.
    */
  final case class FileSpec(
      id: Long,
      facility: String,
      entity: String,
      encName: String,
      decName: String,
      content: String,
      records: Int,
      bad: Int) {
    def stagingTable: String = s"stg_$entity"
    def clean: Boolean = bad == 0
    def valid: Int = records - bad
  }

  final case class Batch(index: Int, ts: String, files: Vector[FileSpec]) {
    def records: Long = files.map(_.records.toLong).sum
    def bytes: Long = files.map(_.content.getBytes("UTF-8").length.toLong).sum
  }

  /** `patient_person` carries flat PII, `hts_client` PII inside its
    * nested `extra` payload; the other four only carry dates.
    */
  val Entities: Vector[String] = Vector("patient_person", "hts_client",
    "hiv_enrollment", "patient_visit", "laboratory_order", "hiv_art_pharmacy")

  /** Every generated PII value starts with this marker, so "no raw PII in
    * staging" is a substring check over the staged rows.
    */
  val PiiMarker = "PIIRAW"

  private val dateCols: Map[String, Seq[String]] = Map(
    "patient_person" -> Seq("date_of_birth"),
    "hts_client" -> Seq("date_visit"),
    "hiv_enrollment" -> Seq("enrollment_date", "date_started"),
    "patient_visit" -> Seq("visit_start_date", "visit_end_date"),
    "laboratory_order" -> Seq("order_date"),
    "hiv_art_pharmacy" -> Seq("visit_date", "next_appointment_date"))

  def facilityId(i: Int): String = f"FAC$i%05d"

  /** Batch `index` of a run: files are spread round-robin over the
    * entities and at random over the facilities; ids start at `firstId`.
    */
  def batch(seed: Long, index: Int, sizes: Sizes, firstId: Long): Batch = {
    val rnd = new Random(seed * 1000003L + index)
    val ts = (20250201000000L + index).toString
    val files = (0 until sizes.filesPerBatch).toVector.map { n =>
      val entity = Entities(n % Entities.size)
      val fac = facilityId(rnd.nextInt(sizes.facilities))
      val nRec = sizes.minRecords +
        rnd.nextInt(sizes.maxRecords - sizes.minRecords + 1)
      val enc = s"${entity}_${n}_$ts.json"
      val dec = enc.replace(".json", "_decrypted.json")
      val recIdBase = (firstId + n) * 1000000L
      var bad = 0
      val sb = new StringBuilder("[\n")
      (0 until nRec).foreach { r =>
        val isBad = rnd.nextDouble() < sizes.badDateRate
        if (isBad) bad += 1
        if (r > 0) sb.append(",\n")
        record(sb, rnd, entity, recIdBase + r, isBad)
      }
      sb.append("\n]\n")
      FileSpec(firstId + n, fac, entity, enc, dec, sb.toString, nRec, bad)
    }
    Batch(index, ts, files)
  }

  private def date(rnd: Random): String =
    f"${2015 + rnd.nextInt(10)}-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d"

  private def pii(rnd: Random): String = s"$PiiMarker${rnd.nextInt(1000000)}"

  private def q(s: String): String = "\"" + s + "\""

  private def record(sb: StringBuilder, rnd: Random, entity: String, id: Long,
                     bad: Boolean): Unit = {
    val dates = dateCols(entity)
    val badCol = if (bad) dates(rnd.nextInt(dates.size)) else ""
    val fields = Seq.newBuilder[(String, String)]
    fields += "id" -> id.toString
    fields += "uuid" -> q(java.lang.Long.toHexString(rnd.nextLong()))
    fields += "archived" -> rnd.nextInt(2).toString
    entity match {
      case "patient_person" =>
        Seq("surname", "first_name", "other_name", "hospital_number",
          "nin_number", "full_name").foreach(c => fields += c -> q(pii(rnd)))
        fields += "sex" -> q(if (rnd.nextBoolean()) "F" else "M")
      case "hts_client" =>
        val code = s"C${rnd.nextInt(100000)}"
        val payload = Seq("surname" -> pii(rnd), "first_name" -> pii(rnd),
          "phone_number" -> pii(rnd), "hospital_number" -> pii(rnd),
          "client_code" -> code, "risk_level" -> s"L${rnd.nextInt(4)}")
          .map { case (k, v) => s"""\\"$k\\": \\"$v\\"""" }.mkString("{", ", ", "}")
        fields += "client_code" -> q(code)
        fields += "extra" -> s"""{"type": "object", "value": "$payload"}"""
      case "laboratory_order" =>
        fields += "priority" -> rnd.nextInt(3).toString
      case "hiv_art_pharmacy" =>
        fields += "refill_period" -> (30 * (1 + rnd.nextInt(6))).toString
        fields += "regimen" -> q(s"R${rnd.nextInt(20)}")
      case _ =>
        fields += "status" -> q(s"S${rnd.nextInt(5)}")
    }
    dates.foreach { c =>
      fields += c -> q(if (c == badCol) s"not-a-date-${rnd.nextInt(100)}" else date(rnd))
    }
    sb.append(fields.result().map { case (k, v) => s"${q(k)}: $v" }
      .mkString("{", ", ", "}"))
  }
}
