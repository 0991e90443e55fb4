from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from data_engineer_project_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMOKE)


@pytest.fixture
def past_gate_prefix(tmp_path):
    """``rank(evidence_round, cutoff_round, n=50)``: the first ``n``
    names of the registry gate as a past round ranked them. Every
    ranking input is frozen: the CORRECTNESS_r*.json files up to
    ``evidence_round`` (copied to a tmp dir), the names they record
    (the live registry grows every round), and the contract/regate
    cutoffs up to ``cutoff_round`` (later regates would rotate new
    zero-effective rows ahead)."""
    import json
    import shutil
    from pathlib import Path

    from data_engineer_project_spark.queries import (
        _CONTRACT_CHANGED_ROUND,
        _REGATE_ROUND,
        _green_counts_both,
        rank_names,
    )

    repo_root = Path(__file__).resolve().parents[1]

    def rank(evidence_round: int, cutoff_round: int, n: int = 50) -> list[str]:
        names: set[str] = set()
        for f in sorted(repo_root.glob("CORRECTNESS_r*.json")):
            if int(f.stem.split("_r")[-1]) <= evidence_round:
                shutil.copy(f, tmp_path / f.name)
                names.update(json.loads(f.read_text()))
        cutoffs = {
            name: r
            for name in names
            if (
                r := max(
                    _CONTRACT_CHANGED_ROUND.get(name, 0),
                    _REGATE_ROUND.get(name, 0),
                )
            )
            <= cutoff_round
        }
        eff, hist, last = _green_counts_both(repo_root=tmp_path, cutoffs=cutoffs)
        return rank_names(sorted(names), eff, hist, last)[:n]

    return rank
