"""CLI smoke: about, batch resolve to parquet, seeded resolve."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*argv):
    return subprocess.run(
        [sys.executable, "-m", "zentity_spark.cli", *argv],
        capture_output=True, text=True, cwd=REPO,
        env=dict(os.environ, ZENTITY_SPARK_MASTER="local[4]"))


def test_about():
    out = _run("about")
    assert out.returncode == 0
    meta = json.loads(out.stdout)
    assert meta["name"] == "zentity_spark"
    assert "version" in meta


def test_resolve_and_seeded(tmp_path, sf0001_dir):
    docs = os.path.join(sf0001_dir, "docs_spans.parquet")
    model = os.path.join(REPO, "fixtures", "model_person.json")

    ckpt = str(tmp_path / "ckpt")

    out1 = _run("resolve", "--docs", docs, "--model", model,
                "--output", str(tmp_path / "clusters"),
                "--exclude-resolver", "r_name_city_weak",
                "--checkpoint-dir", ckpt)
    assert out1.returncode == 0, out1.stderr[-2000:]
    res1 = json.loads(out1.stdout.splitlines()[-1])
    assert res1["rows"] == 612     # = doc count of the sf0.001 fixture
    # the stages land in one dir named by the job's fingerprint
    (fp,) = os.listdir(ckpt)
    stages = os.path.join(ckpt, fp)
    for st in ("explain_x", "labels"):
        assert os.path.exists(os.path.join(stages, st, "_SUCCESS"))
    with open(os.path.join(stages, "metrics.jsonl")) as f:
        lineage = f.read()

    out2 = _run("seeded", "--docs", docs, "--model", model,
                "--output", str(tmp_path / "hits"),
                "--exclude-resolver", "r_name_city_weak",
                "--id", "a-000000", "--max-hops", "2",
                "--checkpoint-dir", ckpt)
    assert out2.returncode == 0, out2.stderr[-2000:]
    res2 = json.loads(out2.stdout.splitlines()[-1])
    assert res2["rows"] >= 1
    # the seeded call reads the stages the batch wrote: it writes none
    assert os.listdir(ckpt) == [fp]
    with open(os.path.join(stages, "metrics.jsonl")) as f:
        assert f.read() == lineage
