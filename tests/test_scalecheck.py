"""The scale harness end to end on the test scales: each decade runs
with sf0.001 as its small side and sf0.01 as its big side, writing its
artifact under ``tmp_path``."""

from __future__ import annotations

import dataclasses
import json
import os

from tests.conftest import SF_DIR, SF_DIR_ORACLE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ONLY = "q1_pricing_summary,dedup_ngram_jaccard"


def _committed() -> dict[str, bytes]:
    return {n: open(os.path.join(REPO, n), "rb").read()
            for n in ("SCALECHECK.json", "SCALECHECK10.json")}


def test_both_decades_write_documented_rows_and_merge_on_only(spark, tmp_path, monkeypatch):
    import scalecheck

    from load_datawarehouse_spark.ops.llm import CANDIDATE_PAIR_BOUNDS

    committed = _committed()
    # main() reuses the live test session through get_spark; keep its
    # driver-memory default local
    monkeypatch.setitem(os.environ, "SPARK_GRAFT_DRIVER_MEM",
                        os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    for k, d in scalecheck.DECADES.items():
        monkeypatch.setitem(scalecheck.DECADES, k, dataclasses.replace(
            d, small=SF_DIR, big=SF_DIR_ORACLE, artifact=str(tmp_path / d.artifact)))
    slots = [CANDIDATE_PAIR_BOUNDS["dedup_ngram_jaccard"](spark, p) for p in (SF_DIR, SF_DIR_ORACLE)]
    assert all(isinstance(s, int) and s > 0 for s in slots), slots

    def rows(result: dict) -> dict[str, set]:
        # slope_per_output_row appears only where output grows > 20x
        return {n: set(r) - {"slope_per_output_row"} for n, r in result["queries"].items()}

    d1 = scalecheck.main(["--only", ONLY])
    timed1 = {"sf0.1_sec", "sf1_sec", "slope", "rows", "machine"}
    assert rows(d1) == {
        "q1_pricing_summary": timed1,
        "dedup_ngram_jaccard": timed1 | {"pair_slots", "slope_per_pair_slot"},
    }
    assert d1["queries"]["dedup_ngram_jaccard"]["pair_slots"] == slots
    assert d1["metric"] == "scale_slope_sf0.1_to_sf1"
    assert {"median_slope", "max_slope"} <= set(d1)
    machine = scalecheck._machine()
    assert all(r["machine"] == machine for r in d1["queries"].values())
    assert d1["rows_other_machine"] == 0
    # extras run on a full sweep or when named, so none ran here
    assert not {"warehouse_verb_decade", "skew_stress_sf1"} & set(d1)
    assert json.load(open(tmp_path / "SCALECHECK.json")) == d1

    # a row merged from another machine stays in the artifact but out
    # of the summary
    foreign = {"sf0.1_sec": 0.01, "sf1_sec": 9.99, "slope": 999.0, "rows": [1, 1],
               "machine": {"cpus": machine["cpus"] + 1, "mem_gb": machine["mem_gb"]}}
    d1["queries"]["join_inner"] = foreign
    with open(tmp_path / "SCALECHECK.json", "w") as f:
        json.dump(d1, f)
    again = scalecheck.main(["--only", "q1_pricing_summary"])
    assert again["queries"]["dedup_ngram_jaccard"] == d1["queries"]["dedup_ngram_jaccard"]
    assert again["queries"]["join_inner"] == foreign
    assert set(again["queries"]) == set(d1["queries"])
    assert again["rows_other_machine"] == 1
    here = sorted(r["slope"] for n, r in again["queries"].items() if n != "join_inner")
    assert again["max_slope"] == here[-1] < 999.0
    assert again["median_slope"] == here[len(here) // 2]

    d2 = scalecheck.main(["--decade", "2", "--only", ONLY])
    timed2 = {"sf1_sec", "sf10_sec", "slope10", "rows", "slope1", "decade_ratio", "machine"}
    assert rows(d2) == {
        "q1_pricing_summary": timed2,
        "dedup_ngram_jaccard": timed2 | {"pair_slots", "slope_per_pair_slot"},
    }
    for name, row in d2["queries"].items():
        assert row["slope1"] == again["queries"][name]["slope"]
    assert d2["queries"]["dedup_ngram_jaccard"]["pair_slots"] == slots
    assert d2["metric"] == "scale_slope_sf1_to_sf10"
    assert {"median_slope10", "superlinear", "accelerating"} <= set(d2)

    # past the pair budget an op is timed on the small side only
    monkeypatch.setenv("SPARK_GRAFT_PAIR_BUDGET", "1")
    skip = scalecheck.main(["--decade", "2", "--only", "dedup_ngram_jaccard"])
    assert rows(skip) == {
        "q1_pricing_summary": timed2,
        "dedup_ngram_jaccard": {"sf1_sec", "sf10_skipped", "pair_slots", "machine"},
    }
    assert skip["queries"]["dedup_ngram_jaccard"]["pair_slots"] == slots
    assert skip["queries"]["q1_pricing_summary"] == d2["queries"]["q1_pricing_summary"]

    assert _committed() == committed
