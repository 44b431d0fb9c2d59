"""Checks the generator's closed-form counts against its own output.

Run from the repository root: python3 -m unittest perfbench/test_fhirgen.py
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import fhirgen  # noqa: E402


def _eob_kept(rec, dim):
    """Independent restatement of the engine's EOB keep rules."""
    claims = [c["code"] for c in rec["type"]["coding"]
              if c["system"] == fhirgen.CLAIM_TYPE]
    if rec["patient"]["reference"] != fhirgen.BCDA_DEMO_PATIENT:
        return False
    if not claims or claims[-1] != "pharmacy":
        return False
    if rec["item"][-1]["servicedDate"] < "2019-10-30":
        return False
    for it in rec["item"]:
        for c in it["productOrService"]["coding"]:
            code = fhirgen.SPECIAL_NDC if rec["id"] == fhirgen.SPECIAL_EOB_ID else c["code"]
            name, rx = dim.get(code, ("", ""))
            if rx == "" or ("display" not in c and name == ""):
                return False
    return True


class ClosedForms(unittest.TestCase):

    def test_count_mod(self):
        for n in range(0, 90):
            for r in range(8):
                self.assertEqual(fhirgen.count_mod(n, 8, r),
                                 sum(1 for i in range(n) if i % 8 == r))

    def test_counts_match_generated_lines(self):
        dim = {r["ndc"]: (r["name"], r["rxnorm"]) for r in fhirgen.rxnorm_dim()}
        with tempfile.TemporaryDirectory() as root:
            doc = fhirgen.generate(root, seed=3, scale=0.05)
            for source, spec in doc["sources"].items():
                landing = os.path.join(spec["root"], "landing")
                for resource, exp in spec["resources"].items():
                    read = corrupt = kept = 0
                    for f in sorted(os.listdir(landing)):
                        if not f.startswith(resource + "-"):
                            continue
                        with open(os.path.join(landing, f)) as fh:
                            lines = fh.read().splitlines()
                        for line in lines:
                            if not line.strip():
                                continue
                            read += 1
                            try:
                                rec = json.loads(line)
                            except ValueError:
                                corrupt += 1
                                continue
                            if resource != "ExplanationOfBenefit" or _eob_kept(rec, dim):
                                kept += 1
                    self.assertEqual((read, corrupt, kept),
                                     (exp["read"], exp["corrupt"], exp["kept"]),
                                     (source, resource))
                    self.assertEqual(exp["good"], exp["kept"] + exp["removed"])

    def test_bcda_removes_about_three_quarters(self):
        exp = fhirgen.expected_counts("bcda", "ExplanationOfBenefit", 12000)
        self.assertAlmostEqual(exp["removed"] / exp["good"], 0.75, delta=0.03)

    def test_seed_changes_bytes_not_counts(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            da = fhirgen.generate(a, seed=1, scale=0.02)
            db = fhirgen.generate(b, seed=2, scale=0.02)
            for s in da["sources"]:
                self.assertEqual(da["sources"][s]["resources"],
                                 db["sources"][s]["resources"])
            pa = os.path.join(a, "epic", "landing", "Patient-epic-0000.json")
            pb = os.path.join(b, "epic", "landing", "Patient-epic-0000.json")
            with open(pa) as fa, open(pb) as fb:
                self.assertNotEqual(fa.read(), fb.read())


if __name__ == "__main__":
    unittest.main()
