package graft.transform

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The reference's `process_demo_data` (ref `FetchBulkData/__init__.py:
  * 357-536`) as pure DataFrame→DataFrame transforms, dispatched by
  * (source system, resource type) — the columnar re-expression of its
  * `if 'epic' in server_url / resource_name == …` branching (P18,
  * `__init__.py:402,439,458`).
  *
  * Departures from the reference, by design (SURVEY §2 hazards):
  *  - claim-type scan: the reference leaks the loop variable across
  *    records when no claim-type coding exists (`:469-471`); here a
  *    record with no match is removed explicitly (hazard 2 fixed).
  *  - per-row HTTP RxNorm lookup (`:504-505,538-543`) is a lookup in a
  *    broadcast driver-side map of the prefetched NDC→(name, rxnorm) dim
  *    — never executor-side HTTP, and no join.
  *  - the final removal re-parse (`:533`) is a filter, not an anti-join
  *    or join, so every transform is one scan with no exchange.
  * Observable data semantics (last-wins servicedDate `:477-478`,
  * positional writes `:489-493`, lexicographic-safe ISO dates `:481`)
  * are replicated exactly; FhirTransformsSpec pins each branch.
  */
object FhirTransforms {

  val EpicDemoPatientId   = "egqBHVfQlt4Bw3XGXoxVxHg3" // ref :361
  val CernerDemoPatientId = "5123829"                  // ref :362
  val BcdaDemoPatientRef  = "Patient/-10000000000027"  // ref :466
  val SpecialEobId        = "pde--10000000760"         // ref :490
  val NdcSystem           = "http://hl7.org/fhir/sid/ndc"
  val RxNormSystem        = "http://www.nlm.nih.gov/research/umls/rxnorm"
  val ClaimTypeSystem     = "http://terminology.hl7.org/CodeSystem/claim-type"
  private val MbiCurrencySystem =
    "https://bluebutton.cms.gov/resources/codesystem/identifier-currency"
  private val HumulinDisplay =
    "insulin isophane, human 70 UNT/ML / insulin, regular, human 30 UNT/ML " +
      "Injectable Suspension [Humulin]"

  /** The MBI identifier literal (ref `:364-379`), shaped exactly like
    * FhirSchemas.patient's identifier element. */
  private val mbiIdentifier: Column = struct(
    lit("http://hl7.org/fhir/sid/us-mbi").as("system"),
    lit("1S00E00AA27").as("value"),
    struct(array(struct(
      lit("http://terminology.hl7.org/CodeSystem/v2-0203").as("system"),
      lit("MC").as("code"),
      lit("Patient's Medicare number").as("display"),
      array(struct(
        lit(MbiCurrencySystem).as("url"),
        struct(
          lit(MbiCurrencySystem).as("system"),
          lit("current").as("code"),
          lit("Current").as("display")).as("valueCoding"))).as("extension")
    )).as("coding")).as("type"))

  /** Epic Patient (ref `:404-411`): only the demo patient gets the MBI
    * identifier; everyone else passes through untouched (P1+P2). */
  def epicPatient(df: DataFrame): DataFrame =
    df.withColumn(
      "identifier",
      when(col("id") === EpicDemoPatientId, array(mbiIdentifier))
        .otherwise(col("identifier")))

  /** Epic Condition (ref `:412-419`): every record gets the constant
    * ICD-10 E11.59 code and recordedDate (P4 blanket overwrite). */
  def epicCondition(df: DataFrame): DataFrame = {
    val text = "Type 2 diabetes mellitus with other circulatory complications"
    df.withColumn(
      "code",
      struct(
        array(struct(
          lit("http://hl7.org/fhir/sid/icd-10-cm").as("system"),
          lit("E11.59").as("code"),
          lit(text).as("display"))).as("coding"),
        lit(text).as("text")))
      .withColumn("recordedDate", lit("2019-09-04T11:10:27.000Z"))
  }

  /** `dispenseRequest` with the validity window both MedicationRequest
    * branches write; a null window stays null. Each nested struct is read
    * from the input column and rebuilt once: a nested-path `withField`
    * re-reads its parent through the previous rewrite, so a chain of them
    * grows the plan with every link (seven on Epic MedicationRequest
    * planned 22.3k characters instead of 2.5k). */
  private def withValidityPeriod(dispenseRequest: Column): Column =
    dispenseRequest.withField("validityPeriod", dispenseRequest.getField("validityPeriod")
      .withField("start", lit("2019-10-30"))
      .withField("end", lit("2020-01-28")))

  /** Epic MedicationRequest (ref `:420-438`): drop medicationReference,
    * constant RxNorm concept, and the multi-level nested dispense sets
    * (P3 + P5). `withField` rewrites leaves without touching siblings. */
  def epicMedicationRequest(df: DataFrame): DataFrame =
    df.drop("medicationReference")
      .withColumn(
        "medicationCodeableConcept",
        struct(array(struct(
          lit(RxNormSystem).as("system"),
          lit("106892").as("code"),
          lit(HumulinDisplay).as("display"))).as("coding")))
      .withColumn("authoredOn", lit("2019-09-04"))
      .withColumn("dispenseRequest", {
        val dispense = col("dispenseRequest")
        withValidityPeriod(dispense)
          .withField("numberOfRepeatsAllowed", lit(2))
          .withField("quantity", dispense.getField("quantity")
            .withField("value", lit(10.0))
            .withField("unit", lit("ml"))
            .withField("system", lit("http://unitsofmeasure.org"))
            .withField("code", lit("ml")))
      })

  /** Cerner Patient (ref `:441-449`): demo patient only — meta dropped
    * (nulled: columnar schemas keep the column), MBI identifier set. */
  def cernerPatient(df: DataFrame): DataFrame =
    df.withColumn(
      "meta",
      when(col("id") === CernerDemoPatientId, lit(null)).otherwise(col("meta")))
      .withColumn(
        "identifier",
        when(col("id") === CernerDemoPatientId, array(mbiIdentifier))
          .otherwise(col("identifier")))

  /** Cerner MedicationRequest (ref `:450-457`). */
  def cernerMedicationRequest(df: DataFrame): DataFrame =
    df.withColumn("authoredOn", lit("2019-10-23"))
      .withColumn("dispenseRequest", withValidityPeriod(col("dispenseRequest")))

  /** A dim row's (name, rxnorm); a miss, a null code included, is ("", ""). */
  final case class Rx(name: String, rxnorm: String)
  private val Miss = Rx("", "")

  /** BCDA ExplanationOfBenefit (ref `:461-533`): the full filter →
    * positional-write → enrich → removal-filter pipeline.
    *
    * @param rxnorm prefetched NDC dim (ndc, name, rxnorm: String), one row
    *               per ndc or this fails before any job — the broadcast
    *               replacement for `get_rxinfo` (`:538-543`).
    */
  def bcdaEob(df: DataFrame, rxnorm: DataFrame): DataFrame = {
    // Stage 1 — record-level keeps (ref :466,:474,:481). claim_type is
    // the LAST matching coding (the ref loop overwrites, :469-471);
    // no-match records are removed (hazard-2 fix, see scaladoc).
    val claimType = try_element_at(
      filter(col("type.coding"), c => c.getField("system") === ClaimTypeSystem),
      lit(-1)).getField("code")
    val servicedDate = element_at(col("item"), -1).getField("servicedDate") // last-wins :477
    val kept = df
      .filter(col("patient.reference") === BcdaDemoPatientRef)
      .filter(claimType === "pharmacy")
      .filter(servicedDate >= "2019-10-30") // ISO strings: lexicographic == chronological

    // Stage 2 — special-id NDC code/display overwrite BEFORE lookup (:501-503).
    val preRewritten = kept.withColumn(
      "item",
      transform(col("item"), it =>
        it.withField(
          "productOrService.coding",
          transform(it.getField("productOrService").getField("coding"), c =>
            when(
              c.getField("system") === NdcSystem && col("id") === SpecialEobId,
              c.withField("code", lit("00002871501"))
                .withField("display", lit(HumulinDisplay)))
              .otherwise(c)))))

    // Stage 3 — the dim as a driver-side map (null name/rxnorm read ""), broadcast once.
    val dim = rxnorm
      .select(col("ndc"), coalesce(col("name"), lit("")), coalesce(col("rxnorm"), lit("")))
      .collect().collect { case Row(ndc: String, name: String, rx: String) => ndc -> Rx(name, rx) }
    dim.groupBy(_._1).foreach { case (ndc, rows) =>
      require(rows.size == 1, s"RxNorm dim: ndc $ndc appears more than once") }
    val byNdc = df.sparkSession.sparkContext.broadcast(dim.toMap)
    val lookup = udf((ndc: String) => byNdc.value.getOrElse(ndc, Miss))
    val rxOf: Column => Column = c => lookup(c.getField("code"))

    // Stage 4 — removal on lookup miss (:508-515): any NDC coding whose
    // rxnorm is empty, or with no display and an empty looked-up name.
    def ndcCodings(pred: Column => Column): Column =
      exists(col("item"), it =>
        exists(it.getField("productOrService").getField("coding"), c =>
          c.getField("system") === NdcSystem && pred(c)))
    val enriched = preRewritten
      .filter(!ndcCodings(c => rxOf(c).getField("rxnorm") === ""))
      .filter(!ndcCodings(c =>
        c.getField("display").isNull && rxOf(c).getField("name") === ""))

    // Stage 5 — pure-expression rewrites: meta drop (:487), positional
    // supportingInfo writes (:489-493), display fill + RxNorm append
    // (:517-522), conditional quantity (:523-528).
    enriched
      .withColumn("meta", lit(null).cast(df.schema("meta").dataType))
      .withColumn(
        "supportingInfo",
        transform(col("supportingInfo"), (si, i) =>
          when(i === 0, si.withField("valueQuantity.value", lit(0.0)))
            .when(i === 1, si.withField(
              "valueQuantity.value",
              when(col("id") === SpecialEobId, lit(30.0)).otherwise(lit(90.0))))
            .otherwise(si)))
      .withColumn(
        "item",
        transform(col("item"), it => {
          val coding = it.getField("productOrService").getField("coding")
          val filled = transform(coding, c =>
            when(
              c.getField("system") === NdcSystem && c.getField("display").isNull,
              c.withField("display", rxOf(c).getField("name")))
              .otherwise(c))
          val appended = concat(
            filled,
            transform(
              filter(coding, c => c.getField("system") === NdcSystem),
              c => struct(
                lit(RxNormSystem).as("system"),
                rxOf(c).getField("rxnorm").as("code"),
                rxOf(c).getField("name").as("display"))))
          it.withField("productOrService.coding", appended)
            .withField("quantity", it.getField("quantity")
              .withField("value",
                when(col("id") === SpecialEobId, lit(10.0)).otherwise(lit(90.0)))
              .withField("unit",
                when(col("id") === SpecialEobId, lit("ml")).otherwise(lit("tabs"))))
        }))
  }

  /** P18 — dispatch registry keyed (source system, resource type);
    * unknown keys pass through unchanged like the reference's absent
    * branches. The EOB transform needs the RxNorm dim, so it's curried.
    */
  def registry(rxnorm: DataFrame): Map[(String, String), DataFrame => DataFrame] = Map(
    ("epic", "Patient")                     -> epicPatient _,
    ("epic", "Condition")                   -> epicCondition _,
    ("epic", "MedicationRequest")           -> epicMedicationRequest _,
    ("cerner", "Patient")                   -> cernerPatient _,
    ("cerner", "MedicationRequest")         -> cernerMedicationRequest _,
    ("bcda", "ExplanationOfBenefit")        -> (df => bcdaEob(df, rxnorm))
  )

  def dispatch(serverUrl: String, resourceName: String, rxnorm: DataFrame)(
      df: DataFrame): DataFrame = {
    val source = Seq("epic", "cerner", "bcda").find(serverUrl.contains).getOrElse("")
    registry(rxnorm).getOrElse((source, resourceName), identity[DataFrame] _)(df)
  }
}
