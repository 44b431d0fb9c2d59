"""Seeded Flat-FHIR NDJSON generator for the ``fhir_bulk`` workload.

Every line's class is a closed function of its index ``i`` (the
``i % k`` scheme of the engine's FhirVolumeSpec, extended to the three
export sources), so the expected read, corrupt, kept and removed counts
of each (source, resource) are closed forms of the line count.  The seed
only varies payload values that no transform branches on (names, dates
of kept records, quantities, unknown-field contents), so it changes the
bytes the engine parses but never the expected counts.

Line classes, shared by every file:
  i % 40 == 7   blank line (skipped by the reader, never counted)
  i % 40 == 13  corrupt line (truncated JSON -> quarantine channel)
  i % 5 == 2    carries unknown fields the schema does not name

BCDA ExplanationOfBenefit record classes, by i % 8 (blank lines fall on
class 7 and corrupt lines on class 5, since 40 is a multiple of 8):
  0 wrong patient           removed by the patient filter
  1 non-pharmacy claim      removed by the claim-type filter
  2 servicedDate too old    removed by the date filter
  3 NDC missing from dim    removed on lookup miss (rxnorm "")
  4 known NDC with display  kept
  5 known NDC, no display   kept, display filled from the dim
  6 dim hit with empty name and no display   removed
  7 no claim-type coding    removed (no pharmacy match)
so about three quarters of EOB records are removed.
"""
import json
import os
import random

EPIC_DEMO_PATIENT = "egqBHVfQlt4Bw3XGXoxVxHg3"
CERNER_DEMO_PATIENT = "5123829"
BCDA_DEMO_PATIENT = "Patient/-10000000000027"
SPECIAL_EOB_ID = "pde--10000000760"
NDC = "http://hl7.org/fhir/sid/ndc"
CLAIM_TYPE = "http://terminology.hl7.org/CodeSystem/claim-type"
SPECIAL_NDC = "00002871501"

PERIOD = 40
BLANK, CORRUPT, UNKNOWN_MOD, UNKNOWN_RES = 7, 13, 5, 2
EOB_CLASSES = 8
EOB_KEPT = (4, 5)

KNOWN_NDCS = ["%011d" % (10000 + k) for k in range(16)]
MISSING_NDC = "99999999999"
EMPTY_NAME_NDC = "88888888888"

# Lines per resource at scale 1, and the files each resource lands in.
# The resource types per source follow the export scopes the pipeline
# handles; the file count keeps each source's export at single-digit
# files. The volumes and the shares of blank (1/40), corrupt (1/40) and
# unknown-field (1/5) lines are chosen values, sized so a round of three
# flows takes a few seconds on 4 cores; no published export was measured
# for them.
SOURCES = {
    "epic": {"url": "https://epic.example.org/fhir/r4",
             "resources": {"Patient": 6000, "Condition": 9000,
                           "MedicationRequest": 9000}},
    "cerner": {"url": "https://cerner.example.org/fhir/r4",
               "resources": {"Patient": 6000, "MedicationRequest": 9000}},
    "bcda": {"url": "https://bcda.example.org/api/v2",
             "resources": {"ExplanationOfBenefit": 12000}},
}
FILES_PER_RESOURCE = 2


def count_mod(n, m, r):
    """Number of i in [0, n) with i % m == r."""
    return max(0, (n - r + m - 1) // m)


def expected_counts(source, resource, n):
    """Closed-form counts for one resource file set of ``n`` lines."""
    blank = count_mod(n, PERIOD, BLANK)
    corrupt = count_mod(n, PERIOD, CORRUPT)
    read = n - blank
    good = read - corrupt
    if (source, resource) == ("bcda", "ExplanationOfBenefit"):
        # Corrupt lines sit on class 5 (13 % 8), blank lines on class 7.
        kept = sum(count_mod(n, EOB_CLASSES, c) for c in EOB_KEPT) - corrupt
    else:
        kept = good  # Epic and Cerner rewrite every record in place
    return {"lines": n, "blank": blank, "read": read, "corrupt": corrupt,
            "good": good, "kept": kept, "removed": good - kept}


def rxnorm_dim():
    """NDC -> (name, rxnorm) rows; MISSING_NDC is absent on purpose."""
    rows = [{"ndc": c, "name": "Drug %s" % c[-4:], "rxnorm": str(200000 + k)}
            for k, c in enumerate(KNOWN_NDCS)]
    rows.append({"ndc": SPECIAL_NDC, "name": "Humulin 70/30", "rxnorm": "106892"})
    rows.append({"ndc": EMPTY_NAME_NDC, "name": "", "rxnorm": "300000"})
    return rows


def _unknown(rng, i):
    return {"extension_x": [{"url": "urn:x:%d" % rng.randrange(10**6),
                             "valueString": "u%d" % i}],
            "text": {"status": "generated", "div": "<div>%d</div>" % i}}


def _patient(source, i, rng):
    demo = EPIC_DEMO_PATIENT if source == "epic" else CERNER_DEMO_PATIENT
    return {"resourceType": "Patient",
            "id": demo if i == 0 else "%s-p%d" % (source, i),
            "meta": {"versionId": str(rng.randrange(1, 9)),
                     "lastUpdated": "2019-%02d-%02dT10:00:00Z"
                     % (rng.randrange(1, 13), rng.randrange(1, 29))},
            "identifier": [{"system": "urn:oid:1.2.3", "value": "mrn%d" % i}],
            "name": [{"family": "F%d" % rng.randrange(10**5)}]}


def _condition(source, i, rng):
    return {"resourceType": "Condition", "id": "%s-c%d" % (source, i),
            "code": {"coding": [{"system": "http://snomed.info/sct",
                                 "code": str(rng.randrange(10**6)),
                                 "display": "finding %d" % i}],
                     "text": "finding %d" % i},
            "recordedDate": "2018-%02d-01" % rng.randrange(1, 13)}


def _medication_request(source, i, rng):
    return {"resourceType": "MedicationRequest", "id": "%s-m%d" % (source, i),
            "medicationReference": {"reference": "Medication/%d" % i},
            "authoredOn": "2018-01-%02d" % rng.randrange(1, 29),
            "dispenseRequest": {
                "validityPeriod": {"start": "2018-01-01", "end": "2018-06-01"},
                "numberOfRepeatsAllowed": rng.randrange(5),
                "quantity": {"value": float(rng.randrange(1, 100)),
                             "unit": "tab", "system": "urn:u", "code": "tab"}}}


def _eob(i, rng):
    cls = i % EOB_CLASSES
    ndc = {3: MISSING_NDC, 6: EMPTY_NAME_NDC}.get(
        cls, KNOWN_NDCS[rng.randrange(len(KNOWN_NDCS))])
    coding = {"system": NDC, "code": ndc}
    if cls not in (5, 6):
        coding["display"] = "label %d" % i
    claim = [] if cls == 7 else [{"system": CLAIM_TYPE,
                                  "code": "professional" if cls == 1 else "pharmacy"}]
    date = "2019-01-15" if cls == 2 else "2019-11-%02d" % rng.randrange(1, 29)
    return {"resourceType": "ExplanationOfBenefit",
            "id": SPECIAL_EOB_ID if i == 4 else "pde-%d" % i,
            "meta": {"versionId": "1", "lastUpdated": "2020-01-01T00:00:00Z"},
            "patient": {"reference": "Patient/other-%d" % i if cls == 0
                        else BCDA_DEMO_PATIENT},
            "type": {"coding": claim},
            "supportingInfo": [{"valueQuantity": {"value": 1.0}},
                               {"valueQuantity": {"value": 2.0}},
                               {"valueQuantity": {"value": 3.0}}],
            "item": [{"servicedDate": "2019-06-01",
                      "productOrService": {"coding": [dict(coding)]},
                      "quantity": {"value": 5.0, "unit": "u"}},
                     {"servicedDate": date,
                      "productOrService": {"coding": [dict(coding)]},
                      "quantity": {"value": float(rng.randrange(1, 90)),
                                   "unit": "u"}}]}


_BUILDERS = {"Patient": _patient, "Condition": _condition,
             "MedicationRequest": _medication_request}


def _line(source, resource, i, rng):
    if i % PERIOD == BLANK:
        return "   "
    rec = (_eob(i, rng) if resource == "ExplanationOfBenefit"
           else _BUILDERS[resource](source, i, rng))
    if i % UNKNOWN_MOD == UNKNOWN_RES:
        rec.update(_unknown(rng, i))
    text = json.dumps(rec, separators=(",", ":"))
    if i % PERIOD == CORRUPT:
        return text[: len(text) // 2]
    return text


def generate(root, seed, scale=1.0):
    """Write landing NDJSON for every source under ``root/<source>/landing``
    plus ``root/rxnorm.json``; return the expectations document."""
    rng = random.Random(seed)
    sources = {}
    for source, spec in SOURCES.items():
        landing = os.path.join(root, source, "landing")
        os.makedirs(landing, exist_ok=True)
        for f in os.listdir(landing):
            os.remove(os.path.join(landing, f))
        resources, disk = {}, 0
        for resource, base in spec["resources"].items():
            n = int(base * scale)
            lines = [_line(source, resource, i, rng) for i in range(n)]
            per = (n + FILES_PER_RESOURCE - 1) // FILES_PER_RESOURCE
            for k in range(FILES_PER_RESOURCE):
                path = os.path.join(landing, "%s-%s-%04d.json" % (resource, source, k))
                with open(path, "w") as out:
                    out.write("\n".join(lines[k * per:(k + 1) * per]) + "\n")
                disk += os.path.getsize(path)
            # An empty export file must be tolerated, not fail the flow.
            open(os.path.join(landing, "%s-%s-empty.json" % (resource, source)), "w").close()
            resources[resource] = expected_counts(source, resource, n)
        sources[source] = {"url": spec["url"], "root": os.path.join(root, source),
                           "landing_bytes": disk, "resources": resources}
    dim = os.path.join(root, "rxnorm.json")
    with open(dim, "w") as out:
        json.dump(rxnorm_dim(), out)
    return {"seed": seed, "rxnorm": dim, "sources": sources}
