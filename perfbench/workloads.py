"""The benchmark workloads: what one call runs, and how its output is
checked against the generator's truth.

  job_write_large  the shipped CLI (jobs/dedup_job.py main) writing the
                   assignment table of a large-heavy corpus
  dup_flood        dedup_pipeline, all three tiers and singletons, into a
                   noop sink, on a mixed-profile corpus plus a flood of
                   copies of one row
"""

from __future__ import annotations

import io
import json
import shutil
from contextlib import redirect_stdout
from dataclasses import dataclass
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

from corpus import FLOOD_PREFIX, Corpus

RECALL_BAR = 0.99
PRECISION_BAR = 0.99


@dataclass(frozen=True)
class Workload:
    name: str
    profile: str
    rows: int
    # seconds one timed call and its check take on 4 CPUs; a run makes
    # as many calls as fit in --seconds at this rate, a count that does
    # not depend on how fast this particular run happens to be
    call_s: float
    copies: int = 0
    job: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        Workload("job_write_large", "large-heavy", 2000, call_s=8, job=True),
        Workload("dup_flood", "mixed", 6000, call_s=10, copies=2000),
    )
}

JOB_ARGS = ["--action", "write", "--format", "json", "--tiers", "exact,phash"]


@dataclass
class Output:
    """What one call left behind: the pipeline's DataFrame, or the
    CLI's exit code, printed report and written table."""

    frame: object = None
    code: int = 0
    report: str = ""
    table: str | None = None

    def release(self) -> None:
        self.frame = None
        if self.table:
            shutil.rmtree(self.table, ignore_errors=True)


def execute(spark, wl: Workload, c: Corpus, out_dir: Path, n: int) -> Output:
    """One complete call: every Spark job of the result has run when it
    returns."""
    if wl.job:
        from jobs.dedup_job import main

        table = str(out_dir / f"table_{n}")
        buf = io.StringIO()
        with redirect_stdout(buf):
            code = main(["--input", c.images, "--output", table, *JOB_ARGS])
        return Output(code=code, report=buf.getvalue(), table=table)
    from dedup_spark.pipeline import dedup_pipeline

    out = dedup_pipeline(spark.read.parquet(c.images))
    out.write.format("noop").mode("overwrite").save()
    return Output(frame=out)


def assignment(spark, wl: Workload, out: Output) -> pd.DataFrame:
    """The (image_id, cluster_id, is_canonical) result, sorted by id."""
    if wl.job:
        from dedup_spark.sources.catalog import read_table

        frame = read_table(spark, out.table)
    else:
        frame = out.frame
    pdf = frame.select("image_id", "cluster_id", "is_canonical").toPandas()
    return pdf.sort_values("image_id", ignore_index=True)


def check(spark, wl: Workload, c: Corpus, out: Output, asg: pd.DataFrame) -> tuple[dict, list[str]]:
    """Pair recall/precision against the truth, plus the workload's own
    invariants. Returns (scores, problems); no problems means correct."""
    from __spark_entry__ import pair_confusion_report

    problems = []
    truth = spark.read.parquet(c.truth).select("image_id", F.col("cluster_id").alias("t"))
    r = pair_confusion_report(
        spark.createDataFrame(asg[["image_id", "cluster_id"]]), truth
    ).first()
    scores = {"pair_recall": r["pair_recall"], "pair_precision": r["pair_precision"]}
    if not r["pair_recall"] >= RECALL_BAR:
        problems.append(f"pair_recall {r['pair_recall']} < {RECALL_BAR}")
    if not r["pair_precision"] >= PRECISION_BAR:
        problems.append(f"pair_precision {r['pair_precision']} < {PRECISION_BAR}")

    sizes = asg.groupby("cluster_id")["image_id"].transform("size")
    canon = asg.groupby("cluster_id")["is_canonical"].sum()
    if asg["image_id"].duplicated().any():
        problems.append("an id is assigned twice")
    if (canon != 1).any():
        problems.append(f"{int((canon != 1).sum())} clusters without exactly one canonical")
    if wl.job:
        if out.code != 0:
            problems.append(f"job exit code {out.code}")
        report = json.loads(out.report.strip().splitlines()[-1])
        if report != {"groups": len(canon), "rows_in_duplicate_groups": len(asg)}:
            problems.append(f"job report {report} disagrees with the written table")
        if (sizes < 2).any():
            problems.append("written table holds singleton clusters")
    elif len(asg) != c.rows:
        problems.append(f"{len(asg)} assignments for {c.rows} input rows")
    if c.copies:
        flood = asg["image_id"].str.startswith(FLOOD_PREFIX)
        cluster = asg.loc[flood, "cluster_id"].unique()
        members = asg.loc[asg["cluster_id"].isin(cluster), "image_id"]
        outsiders = set(members[~members.str.startswith(FLOOD_PREFIX)])
        if len(cluster) != 1 or len(members) != c.copies + 1:
            problems.append(
                f"flood split into {len(cluster)} clusters of {len(members)} members"
            )
        if outsiders != {c.flood_seed_id}:
            problems.append(f"non-flood ids in the flood cluster: {sorted(outsiders)[:5]}")
    return scores, problems
