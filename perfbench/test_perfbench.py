"""Tests of the benchmark itself: the digest, the input generator, and a
smoke run of every workload at sf0.001, untraced and traced.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
sys.path.insert(0, str(BENCH))

import datagen  # noqa: E402
import run  # noqa: E402
from checks import IvfReference, LshReference, digest  # noqa: E402

SPEC = json.loads((REPO / "BENCHMARK.json").read_text())


def test_digest_ignores_row_order_and_numeric_width():
    a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", None, "z"]})
    b = pd.DataFrame({"v": ["z", "x", None], "k": [3.0, 1.0, 2.0]})
    assert digest(a) == digest(b)


def test_digest_sees_values_names_and_counts():
    a = pd.DataFrame({"k": [1, 2, 3]})
    assert digest(a) != digest(pd.DataFrame({"k": [1, 2, 4]}))
    assert digest(a) != digest(pd.DataFrame({"j": [1, 2, 3]}))
    assert digest(a) != digest(pd.DataFrame({"k": [1, 2, 3, 3]}))


def test_datagen_is_deterministic_in_the_seed():
    one, two, other = (datagen.make_tables(s, 0.001) for s in (5, 5, 6))
    for name in one:
        assert one[name].equals(two[name]), name
    assert not one["lineitem"].equals(other["lineitem"])
    counts = datagen.row_counts(0.1)
    assert counts["lineitem"] == 600_000 and counts["documents"] == 5_000
    docs = one["documents"].to_pandas()
    assert (docs["n_chars"] == docs["text"].str.len()).all()
    emb = np.stack(one["embeddings"].column("embedding").to_numpy(zero_copy_only=False))
    assert np.allclose(np.linalg.norm(emb, axis=1), 1.0, atol=1e-5)


def test_lsh_reference_accepts_exact_pairs_and_rejects_wrong_ones():
    docs = datagen.make_tables(4, 0.001)["documents"].to_pandas()
    ref = LshReference(docs, 1_000_000)
    assert ref.identical, "the planted copies give identical pairs"
    good = pd.DataFrame([(a, b, 1.0) for a, b in sorted(ref.identical)], columns=["doc_a", "doc_b", "jaccard"])
    assert ref.check(good) is None
    assert "missing" in ref.check(good.iloc[1:])
    assert "missing" in ref.check(good.iloc[:0])
    wrong = good.copy()
    wrong.loc[0, "jaccard"] = 0.9
    assert "jaccard" in ref.check(wrong)
    far = min(ref.sets, key=lambda i: ref.jaccard(good.doc_a[0], i) if i > good.doc_a[0] else 1.0)
    unrelated = pd.concat([good, pd.DataFrame([(good.doc_a[0], far, 0.5)], columns=good.columns)])
    assert "jaccard" in ref.check(unrelated)


def test_ivf_reference_accepts_the_probe_result_and_rejects_wrong_ones():
    emb = datagen.make_tables(4, 0.001)["embeddings"]
    ref = IvfReference(emb, 10)
    top = sorted(ref.cosine, key=lambda v: (-ref.cosine[v], v))[:10]
    good = pd.DataFrame({"vec_id": top, "label": [ref.label[v] for v in top],
                         "cosine": [ref.cosine[v] for v in top]})
    assert ref.check(good) is None
    assert "rows" in ref.check(good.iloc[1:])
    outside = next(v for v in ref.label if v not in ref.cosine)
    swapped = good.copy()
    swapped.loc[9, "vec_id"] = outside
    assert "probed cell" in ref.check(swapped)
    low = sorted(ref.cosine, key=lambda v: ref.cosine[v])[0]
    weak = good.copy()
    weak.loc[9, ["vec_id", "label", "cosine"]] = [low, ref.label[low], ref.cosine[low]]
    assert ref.check(weak) is not None


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


SMOKE = [(w, 0) for w in run.WORKLOADS] + [(w["name"], 1) for w in SPEC["workloads"]]


@pytest.mark.parametrize(("workload", "trace"), SMOKE)
def test_smoke_run(workload, trace):
    out = _run(REPO, "--workload", workload, "--seed", "3", "--seconds", "0.1",
               "--trace", str(trace), "--sf", "0.001")
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["end_to_end" if trace == 0 else "per_layer"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if trace == 0:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert not any((BENCH / ".tmp").iterdir()), "run directory left behind"


def test_fails_without_the_engine(tmp_path):
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".tmp", "traces", "__pycache__"))
    out = _run(tmp_path, "--workload", "interactive_sql", "--seed", "1",
               "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert not out.stdout.strip()
