package graft.schemas

import org.apache.spark.sql.types._

/** Explicit StructTypes for the FHIR resources the reference touches
  * (field inventory: FIXTURES.md §A, derived from accesses in reference
  * `FetchBulkData/__init__.py:404-530`). The reference runs schema-less
  * (dynamic dicts, SURVEY §1.1); here every NDJSON scan gets an explicit
  * schema so Catalyst can prune columns and the corrupt-record channel
  * is well-defined — at 100 TB, schema inference is a full extra pass
  * and is never acceptable.
  */
object FhirSchemas {

  private def coding(extra: StructField*): StructType =
    StructType(Seq(
      StructField("system", StringType),
      StructField("code", StringType),
      StructField("display", StringType)) ++ extra)

  /** Patient — ref `__init__.py:404-411,441-449`. */
  val patient: StructType = StructType(Seq(
    StructField("resourceType", StringType),
    StructField("id", StringType),
    StructField("meta", StructType(Seq(
      StructField("versionId", StringType),
      StructField("lastUpdated", StringType)))),
    StructField("identifier", ArrayType(StructType(Seq(
      StructField("system", StringType),
      StructField("value", StringType),
      StructField("type", StructType(Seq(
        StructField("coding", ArrayType(coding(
          StructField("extension", ArrayType(StructType(Seq(
            StructField("url", StringType),
            StructField("valueCoding", coding())))))))))))))))
  ))

  /** Condition — ref `__init__.py:412-419`. */
  val condition: StructType = StructType(Seq(
    StructField("resourceType", StringType),
    StructField("id", StringType),
    StructField("code", StructType(Seq(
      StructField("coding", ArrayType(coding())),
      StructField("text", StringType)))),
    StructField("recordedDate", StringType)
  ))

  /** MedicationRequest — ref `__init__.py:420-438,450-457`. */
  val medicationRequest: StructType = StructType(Seq(
    StructField("resourceType", StringType),
    StructField("id", StringType),
    StructField("medicationReference", StructType(Seq(
      StructField("reference", StringType)))),
    StructField("medicationCodeableConcept", StructType(Seq(
      StructField("coding", ArrayType(coding()))))),
    StructField("authoredOn", StringType),
    StructField("dispenseRequest", StructType(Seq(
      StructField("validityPeriod", StructType(Seq(
        StructField("start", StringType),
        StructField("end", StringType)))),
      StructField("numberOfRepeatsAllowed", IntegerType),
      StructField("quantity", StructType(Seq(
        StructField("value", DoubleType),
        StructField("unit", StringType),
        StructField("system", StringType),
        StructField("code", StringType)))))))
  ))

  /** ExplanationOfBenefit — ref `__init__.py:461-530`. */
  val explanationOfBenefit: StructType = StructType(Seq(
    StructField("resourceType", StringType),
    StructField("id", StringType),
    StructField("meta", StructType(Seq(
      StructField("versionId", StringType),
      StructField("lastUpdated", StringType)))),
    StructField("patient", StructType(Seq(
      StructField("reference", StringType)))),
    StructField("type", StructType(Seq(
      StructField("coding", ArrayType(StructType(Seq(
        StructField("system", StringType),
        StructField("code", StringType)))))))),
    StructField("supportingInfo", ArrayType(StructType(Seq(
      StructField("valueQuantity", StructType(Seq(
        StructField("value", DoubleType)))))))),
    StructField("item", ArrayType(StructType(Seq(
      StructField("servicedDate", StringType),
      StructField("productOrService", StructType(Seq(
        StructField("coding", ArrayType(coding()))))),
      StructField("quantity", StructType(Seq(
        StructField("value", DoubleType),
        StructField("unit", StringType))))))))
  ))
}
