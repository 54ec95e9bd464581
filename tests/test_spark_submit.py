"""End-to-end `spark-submit --py-files` shipping test (north rule).

Launches a REAL spark-submit child JVM from a scratch cwd with the repo
stripped from PYTHONPATH, shipping the engine solely as the --py-files
zip (shipping.package_zip_path). The job (tools/submit_job.py) builds
the segment store over the deterministic corpus, runs BM25 top-k, and
checks the per-row sha256(content) manifest; here we assert its output
against a PURE-PYTHON BM25 oracle computed without Spark — so the whole
shipped pipeline (zip import on driver AND executor-side pandas-UDF
deserialization) is verified against an independent implementation.
"""

import json
import math
import os
import shutil
import subprocess
import sys
from collections import Counter

import pyspark

from meresco_lucene_spark.analysis.tokenizer import tokenize_text
from meresco_lucene_spark.corpus import content_for_row
from meresco_lucene_spark.session import session_defaults
from meresco_lucene_spark.shipping import package_zip_path

N, SEED, K = 800, 42, 10
K1, B = 1.2, 0.75


def _oracle_scores(term: str) -> dict[int, float]:
    """BM25 per-doc scores for one term, pure Python over the same
    deterministic corpus (no Spark involvement at all)."""
    tfs, dls = {}, {}
    df_t = 0
    for i in range(N):
        toks = tokenize_text(content_for_row(SEED, i))
        dls[i] = len(toks)
        c = Counter(toks)[term]
        if c:
            tfs[i] = c
            df_t += 1
    avgdl = sum(dls.values()) / N
    idf = math.log(1 + (N - df_t + 0.5) / (df_t + 0.5))
    return {
        i: idf * tf / (tf + K1 * (1 - B + B * dls[i] / avgdl))
        for i, tf in tfs.items()
    }


def test_spark_submit_py_files(tmp_path):
    spark_submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    assert os.path.exists(spark_submit), spark_submit

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    job = tmp_path / "submit_job.py"
    shutil.copy(os.path.join(repo_root, "tools", "submit_job.py"), job)
    out_dir = tmp_path / "seg_store"

    env = dict(os.environ)
    # The engine must come from the zip alone: no repo on the path.
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=5",
            "--conf", "spark.sql.adaptive.skewJoin.enabled=false",
            "--conf", "spark.sql.session.timeZone=UTC",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.driver.host=127.0.0.1",
            "--py-files", package_zip_path(),
            str(job),
            "--n", str(N), "--seed", str(SEED), "--out", str(out_dir),
            "--term", "import", "--or-terms", "return,struct", "--k", str(K),
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=570,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    res = json.loads(line)

    assert res["sha_ok"] is True and res["sha_checked"] >= 25
    # the engine's session defaults hold on the submit path, and each
    # --conf flag keeps its own value over a default (skewJoin) and over
    # the task-slot sizing (max(4, 8) = 8 shuffle partitions)
    assert res["conf"] == {
        **session_defaults(),
        "spark.sql.adaptive.skewJoin.enabled": "false",
        "spark.sql.shuffle.partitions": "5",
    }
    assert res["n_shards_built"] == 4

    # Rank identity vs the no-Spark oracle. Exact-score ties are broken
    # by doc_id in the engine; compare the score sequence exactly and
    # each returned doc's score against the oracle's for that doc.
    oracle = _oracle_scores("import")
    want = sorted(oracle.items(), key=lambda p: (-p[1], p[0]))[:K]
    got = res["term_topk"]
    assert len(got) == K
    for (gd, gs), (wd, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-5
        assert abs(gs - oracle[gd]) < 1e-5
        # off-boundary ranks must match doc ids exactly; ranks whose
        # score ties the kth score may legally permute within the tie
        if abs(ws - want[-1][1]) > 1e-9:
            assert gd == wd

    # OR query: scores strictly descending, ids present, k rows.
    ors = [s for _, s in res["or_topk"]]
    assert len(ors) == K and all(a >= b - 1e-12 for a, b in zip(ors, ors[1:]))


def test_package_zip_keyed_on_checkout_and_content(tmp_path, monkeypatch):
    """Two checkouts on one host never ship each other's code: copies of
    the package that differ in one byte get two zips, each holding its
    own bytes, and an unchanged package reuses its zip unwritten."""
    import tempfile
    import zipfile

    import meresco_lucene_spark

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs(tempfile.tempdir)
    src = os.path.dirname(meresco_lucene_spark.__file__)
    ignore = shutil.ignore_patterns("__pycache__")
    a = shutil.copytree(src, str(tmp_path / "a" / "meresco_lucene_spark"), ignore=ignore)
    b = shutil.copytree(src, str(tmp_path / "b" / "meresco_lucene_spark"), ignore=ignore)
    with open(os.path.join(b, "shipping.py"), "a") as f:
        f.write("#")

    za, zb = package_zip_path(a), package_zip_path(b)
    assert za != zb
    for pkg, z in ((a, za), (b, zb)):
        with open(os.path.join(pkg, "shipping.py"), "rb") as f:
            mine = f.read()
        with zipfile.ZipFile(z) as zf:
            assert zf.read("meresco_lucene_spark/shipping.py") == mine
            assert "meresco_lucene_spark/index/store.py" in zf.namelist()

    st = os.stat(za)
    assert package_zip_path(a) == za
    again = os.stat(za)
    assert (again.st_ino, again.st_mtime_ns) == (st.st_ino, st.st_mtime_ns)
    assert sorted(os.listdir(tempfile.tempdir)) == sorted(
        os.path.basename(z) for z in (za, zb)
    )
