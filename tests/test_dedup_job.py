"""The shipped CLI (jobs/dedup_job.py) run in process: argument checks,
the scan filters as the only size filter, and the verbose report."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from dedup_spark.fixtures.images import generate_corpus
from dedup_spark.sources.catalog import read_table
from dedup_spark.sources.filters import glob_to_regex
from jobs.dedup_job import main

EXCLUDE = "[0-7]*/**"


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    c = generate_corpus(120, dup_ratio=0.3, near_dup_ratio=0.2, seed=7)
    path = tmp_path_factory.mktemp("job") / "images.parquet"
    c.images.to_parquet(path)
    return c, str(path)


def _run(argv: list[str]) -> tuple[int, str]:
    buf = io.StringIO()
    with redirect_stdout(buf):
        code = main(argv)
    return code, buf.getvalue()


@pytest.mark.parametrize(
    "argv",
    [
        ["--tiers", "exact,phsh"],  # typo: would silently drop phash
        ["--tiers", "caption,phash"],  # exact always runs, must be listed
        ["--action", "write"],  # no --output
    ],
    ids=["unknown_tier", "missing_exact", "write_without_output"],
)
def test_bad_cli_input_exits_2_before_spark(argv, tmp_path, capsys):
    # the input does not exist: reaching Spark would raise, not exit 2
    with pytest.raises(SystemExit) as exc:
        main(["--input", str(tmp_path / "missing"), *argv])
    assert exc.value.code == 2
    assert "error:" in capsys.readouterr().err


def test_verbose_report_uses_id_col(spark, corpus, tmp_path):
    c, _ = corpus
    path = tmp_path / "renamed.parquet"
    c.images.rename(columns={"image_id": "key"}).to_parquet(path)
    code, out = _run(
        ["--input", str(path), "--id-col", "key", "--tiers", "exact", "--verbose"]
    )
    assert code == 0
    listed = [line for line in out.splitlines() if " -> " in line]
    assert listed, out
    ids = set(c.images["image_id"])
    assert all(line.split()[0] in ids for line in listed)


def test_scan_filter_is_the_only_size_filter(spark, corpus, tmp_path):
    c, path = corpus
    images = c.images.assign(size=c.images["bytes"].map(len))
    lo, hi = (int(images["size"].quantile(q)) for q in (0.25, 0.75))
    excluded = images["image_id"].str.match(glob_to_regex(EXCLUDE))
    dropped = ~images["size"].between(lo, hi) | excluded

    # which tier groups each duplicate: byte-identical rows are the exact
    # tier's; the rest of a truth cluster (perturbed pixels) is phash's
    exact_dup = images["bytes"].duplicated(keep=False)
    clustered = c.truth.groupby("cluster_id")["image_id"].transform("size") >= 2
    near_ids = set(c.truth.loc[clustered, "image_id"]) - set(images.loc[exact_dup, "image_id"])
    near_dup = images["image_id"].isin(near_ids)
    # non-vacuous: the filters remove real duplicates of both tiers and
    # leave some of each
    for tier in (exact_dup, near_dup):
        assert (tier & dropped).any() and (tier & ~dropped).any()

    out = str(tmp_path / "assignments")
    code, _ = _run([
        "--input", path, "--output", out, "--action", "write",
        "--tiers", "exact,phash", "--format", "json",
        "--min-size", str(lo), "--max-size", str(hi), "--exclude", EXCLUDE,
    ])
    assert code == 0
    table = read_table(spark, out).select("image_id", "cluster_id").toPandas()
    written = set(table["image_id"]) | set(table["cluster_id"])
    assert not written & set(images.loc[dropped, "image_id"])
    for tier in (exact_dup, near_dup):
        assert written & set(images.loc[tier & ~dropped, "image_id"])
