"""One benchmark process: a SparkSession and one closed-loop client.

``run.py`` starts this file in a fresh process per run. The worker builds
its session, reports when it is ready, waits for ``go`` on stdin, then runs
its workload: one cold pass, a fixed count of warm-up passes and a fixed
count of measured passes, each op starting when the previous one ends. It
checks every op's output and writes one JSON result file.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import sys
import time

import tracing

# (warm-up passes, measured passes) after the cold pass. Both commits of
# a comparison run exactly these passes; README.md records the ramp.
SCHEDULE = {"dag_small": (0, 1), "registry_mix": (0, 3)}

# The registry mix: relational, validation, dedup, a streaming drain,
# text (a Misra-Gries pass in a pandas leg) and packing. Each oracle runs
# in under a second on DuckDB at sf 0.1.
QUERIES = ("pricing_summary", "robust_bounds_grouped", "exact_dedup",
           "streaming_dedup", "heavy_hitter_tokens", "pack_chunks")
REGISTRY_TABLES = ("lineitem", "events", "documents")
DAG_EXPECT = {"ingest": "raw", "preprocess": "raw", "validate": "raw",
              "merge": "merged", "export-landings": "raw",
              "export-tracks": "tracks"}
DAG_OUTPUTS = ("raw", "preprocessed", "validated", "merged_trips",
               "export_landings", "matched_tracks")


def session(scratch: str, trace_dir: str | None):
    from peskas_malawi_data_pipeline_spark.core.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(scratch, 'jvmtmp')}"}
    if trace_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + trace_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark("dagbench", extra_conf=conf)


class Dag:
    """``dag_small``: an op is one ``cli.run_stage`` call, a pass the six
    stages in DAG order."""

    def __init__(self, spark, data: str, expect: dict) -> None:
        from peskas_malawi_data_pipeline_spark import cli

        self.spark, self.root, self.expect = spark, data, expect
        self.cli = cli
        self.ops = list(cli.STAGES)
        self.input_rows = expect["input_rows"]
        self.input_bytes = expect["landing_bytes"]

    def run_op(self, stage: str, tracer) -> bool:
        forms = self.expect["forms"] if stage == "ingest" else None
        n = self.cli.run_stage(self.spark, stage, self.root, forms=forms)
        return n == self.expect[DAG_EXPECT[stage]]

    def check(self, pass_no: int) -> list[str]:
        """Whole-output checks: the alert distribution of ``validated``
        and the submissions that survived the malformed lines."""
        from pyspark.sql import functions as F

        errors = []
        v = self.spark.read.parquet(f"{self.root}/validated")
        got = {r[0]: r[1] for r in v.groupBy("alert_number").count().collect()}
        if got != self.expect["alerts"]:
            errors.append(f"pass {pass_no}: alert_number {got} != {self.expect['alerts']}")
        raw = self.spark.read.parquet(f"{self.root}/raw")
        subs = raw.select(F.countDistinct("submission_id")).first()[0]
        if subs != self.expect["submissions"]:
            errors.append(f"pass {pass_no}: {subs} submissions survive ingest, "
                          f"expected {self.expect['submissions']} "
                          f"({self.expect['malformed']} malformed lines absorbed)")
        return errors

    @staticmethod
    def check_passes(n_passes: int) -> tuple[int, ...]:
        return (n_passes - 1,)

    def stored_bytes(self) -> int:
        return sum(tracing.dir_bytes(f"{self.root}/{d}")[0] for d in DAG_OUTPUTS)


class Registry:
    """``registry_mix``: an op is one registry query, built and drained
    through the noop sink; a pass is the whole list."""

    def __init__(self, spark, data: str, expect: dict, rows_dir: str) -> None:
        from peskas_malawi_data_pipeline_spark.queries import REGISTRY

        self.spark, self.sf_dir, self.registry = spark, data, REGISTRY
        self.rows_dir = rows_dir
        self.ops = list(QUERIES)
        self.input_rows = sum(expect["rows"][t] for t in REGISTRY_TABLES)
        self.input_bytes = sum(os.path.getsize(f"{data}/{t}.parquet")
                               for t in REGISTRY_TABLES)
        self.last_df: dict[str, object] = {}
        self.first: dict[str, str] = {}

    def run_op(self, name: str, tracer) -> bool:
        with tracer.span(name, "queries.build"):
            df = self.registry[name][0](self.spark, self.sf_dir)
        with tracer.span(name, "queries.exec"):
            df.write.format("noop").mode("overwrite").save()
        self.last_df[name] = df
        return True

    def check(self, pass_no: int) -> list[str]:
        """Keep the first pass's rows for the oracle check, which ``run.py``
        makes after this process ends; later passes must have the same
        order-insensitive checksum as the first."""
        import oracle_check

        errors = []
        for name, df in self.last_df.items():
            got = oracle_check.normalize(df.toPandas())
            digest = hashlib.sha256(got.to_csv(index=False).encode()).hexdigest()
            if name not in self.first:
                self.first[name] = digest
                got.to_pickle(os.path.join(self.rows_dir, f"{name}.pkl"))
                with open(os.path.join(self.rows_dir, f"{name}.sql"), "w") as fh:
                    fh.write(self.registry[name][1])
            elif digest != self.first[name]:
                errors.append(f"{name}: pass {pass_no} rows differ from the first pass")
        return errors

    @staticmethod
    def check_passes(n_passes: int) -> tuple[int, ...]:
        return (0, n_passes - 1)


def _tmp_bytes() -> int:
    total = 0
    for dirpath, _, names in os.walk(os.environ["TMPDIR"]):
        for n in names:
            p = os.path.join(dirpath, n)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--scratch", required=True,
                    help="the run's directory: data/, expect.json, rows/")
    ap.add_argument("--tag", required=True, help="names this worker's files")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--passes", type=int, default=0,
                    help="record a ramp: this many passes, all but the cold one measured")
    args = ap.parse_args()
    d = args.scratch
    trace_dir = os.path.join(d, f"eventlog_{args.tag}") if args.trace else None
    if trace_dir:
        os.makedirs(trace_dir)

    spark = session(d, trace_dir)
    ready = os.path.join(d, f"ready_{args.tag}")
    with open(ready + ".tmp", "w") as fh:
        fh.write(repr(time.time()))
    os.rename(ready + ".tmp", ready)        # the parent never reads half a file
    if sys.stdin.readline().strip() != "go":
        spark.stop()
        return 3

    with open(os.path.join(d, "expect.json")) as fh:
        expect = json.load(fh)
    data = os.path.join(d, "data")
    if args.workload.startswith("dag"):
        wl = Dag(spark, data, expect)
    else:
        wl = Registry(spark, data, expect, os.path.join(d, "rows"))
    tracer = tracing.Tracer(spark, enabled=args.trace)
    if tracer.enabled:
        tracer.install()

    warmup, measured = (0, args.passes - 1) if args.passes > 1 else SCHEDULE[args.workload]
    # a traced run adds one untraced pass, to time the tracing overhead
    n_passes = 1 + warmup + measured + tracer.enabled
    attempted = failed = 0
    errors: list[str] = []
    pass_s, pass_spans, stored = [], [], 0
    checking = os.path.join(d, "checking")      # memory sampling pauses
    for p in range(n_passes):
        if tracer.enabled and p == n_passes - 1:
            tracer.uninstall()
        tmp_before = _tmp_bytes()
        with tracer.span(f"pass{p}", "pass") as ps:
            t0 = time.perf_counter()
            for op in wl.ops:
                attempted += 1
                t_op = time.perf_counter()
                try:
                    with tracer.span(op, "op"):
                        ok = wl.run_op(op, tracer)
                    if not ok:
                        errors.append(f"pass {p} {op}: wrong row count")
                except Exception as e:  # noqa: BLE001 - a failed op is counted
                    ok = False
                    errors.append(f"pass {p} {op}: {type(e).__name__}: {e}"[:400])
                failed += not ok
                print(f"dagbench: pass {p} {op} {time.perf_counter() - t_op:.3f} s",
                      file=sys.stderr, flush=True)
            pass_s.append(time.perf_counter() - t0)
        print(f"dagbench: pass {p} {pass_s[-1]:.3f} s", file=sys.stderr, flush=True)
        tmp_left = _tmp_bytes() - tmp_before
        if ps is not None:
            ps.counters["tmp_bytes_left"] = tmp_left
            pass_spans.append(ps)
        if p in wl.check_passes(n_passes):
            open(checking, "w").close()
            attempted += 1
            found = wl.check(p)
            os.remove(checking)
            if found:
                failed += 1
                errors += found
        if p == n_passes - 1:
            stored = tmp_left if isinstance(wl, Registry) else wl.stored_bytes()

    measured_s = pass_s[1 + warmup:1 + warmup + measured]
    result = {
        "attempted": attempted, "failed": failed, "errors": errors[:20],
        "pass_times": pass_s, "first_pass_s": pass_s[0],
        "pass_s": statistics.median(measured_s), "n_measured": len(measured_s),
        "rows_per_s": wl.input_rows / statistics.median(measured_s),
        "stored_bytes_ratio": stored / wl.input_bytes,
    }
    if args.trace:
        result["untraced_pass_s"] = pass_s[-1]
        time.sleep(1.0)           # let the last streaming progress events land
        spark.stop()
        log = tracing.read_event_log(trace_dir)
        per_pass = [tracing.pass_layers(tracer, log, s) for s in pass_spans]
        result["layers"] = tracing.medians(per_pass[1 + warmup:])
        first = per_pass[0]
        for k in ("driver.gap_s", "exec.jobs", "python.boot_s"):
            result["layers"][f"first.{k}"] = first.get(k, 0.0)
        result["layer_passes"] = per_pass
    else:
        spark.stop()
    with open(os.path.join(d, f"result_{args.tag}.json"), "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
