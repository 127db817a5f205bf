"""Self-test of the benchmark: tiny inputs, every metric, every check.

Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests -v

Each workload runs once untraced and once traced at the tiny input size
(a few files, a sf0.001-sized table set). The test asserts that every
metric the workload names is printed, and that each correctness check
fires on a corrupted answer: one flipped byte in a letter file, one
altered query row, one skipped model update. It also asserts that the
benchmark fails, without a result, where the program's sources are
missing, and that the generators are deterministic.
"""
import hashlib
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
SCRATCH = ROOT / ".bench_work" / "selftest"
sys.path.insert(0, str(BENCH))
sys.dont_write_bytecode = True

import gen  # noqa: E402

QUERIES = ["q01_pricing_summary", "q03_top_revenue_orders", "q17_inverted_index",
           "q40_tfidf_top_terms", "q80_textrank", "q101_prefix_filter_join",
           "q85_simhash_neardup", "q93_span_dedup", "q73_lloyd_probe", "q46_curation",
           "q145_peak_concurrency", "q126_corr_matrix"]
COMMON = ["setup_s", "round_s", "heap_live_mb", "fail_frac", "setup.jvm_boot_ms",
          "setup.session_ms", "setup.warm_ms", "setup.first_op_ms"]
INVIDX_LAYERS = [
    "invidx.manifest_read_ms", "invidx.lines_plan_ms", "invidx.input_bytes",
    "invidx.tokenize_self_ms", "invidx.tokens", "invidx.index_self_ms",
    "invidx.shuffle_write_bytes", "invidx.shuffle_records", "invidx.distinct_words",
    "invidx.postings", "invidx.spill_bytes", "invidx.sink_self_ms",
    "invidx.output_bytes", "invidx.sink_skew"]
NAMED = {
    "query_mix": (
        ["mix.pass_s", "mix.query_p50_ms", "invidx.job_s", "invidx.mtok_per_s"],
        INVIDX_LAYERS
        + [f"mix.{q}.{m}" for q in QUERIES for m in ("build_ms", "eager_jobs", "exec_ms", "shuffle_bytes")]
        + ["mix.analysis_ms", "mix.optimizer_ms", "mix.planning_ms"]),
    "layout_rw": (
        ["layout.commit_p50_ms", "layout.read_p50_ms", "layout.feed_lag_p50_ms",
         "layout.fold_p50_ms", "layout.ops_per_s", "layout.space_amp"],
        ["setup.base_write_ms", "layout.insert_ms", "layout.upsert_ms", "layout.delete_ms",
         "layout.head_read_ms", "layout.point_read_ms", "layout.feed_read_ms",
         "layout.checkpoint_ms", "layout.log_ms", "layout.read_plan_ms", "layout.read_exec_ms",
         "layout.files_per_read", "layout.rows_read_per_row",
         "layout.bytes_written_per_user_byte", "layout.dir_files", "layout.log_entries",
         "layout.read_ms_per_version", "layout.feed.batches", "layout.feed.rows",
         "layout.feed.trigger_ms", "layout.feed.add_batch_ms", "layout.feed.wal_ms",
         "layout.feed.latest_offset_ms"]),
}
# The corruption each run injects; every one must turn `correct` false.
INJECT = {"query_mix": ["alter_query_row", "flip_letter_byte"],
          "layout_rw": ["skip_model_update"]}
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


def printed(stdout):
    """Metric names of the human-readable lines ("name = value unit (n=...)")."""
    return {line.split(" = ")[0] for line in stdout.splitlines()[:-1] if " = " in line}


class Workloads(unittest.TestCase):
    def check(self, workload):
        e2e, layers = NAMED[workload]
        plain = run("--workload", workload, "--seed", "7", "--seconds", "1", "--trace", "0",
                    "--size", "tiny")
        self.assertEqual(plain.returncode, 0, plain.stderr[-3000:])
        res = json.loads(plain.stdout.splitlines()[-1])
        self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(res["correct"], plain.stdout[-3000:])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in SPEC["end_to_end"]})
        self.assertTrue(all(m["value"] > 0 for m in res["metrics"].values()), res)
        missing = set(COMMON + e2e) - printed(plain.stdout)
        self.assertFalse(missing, f"not printed: {sorted(missing)}")

        traced = run("--workload", workload, "--seed", "7", "--seconds", "1", "--trace", "1",
                     "--size", "tiny", "--inject", INJECT[workload][0])
        self.assertEqual(traced.returncode, 0, traced.stderr[-3000:])
        res = json.loads(traced.stdout.splitlines()[-1])
        self.assertEqual(set(res["metrics"]), {m["name"] for m in SPEC["per_layer"]})
        self.assertFalse(res["correct"], f"{INJECT[workload][0]} went unnoticed")
        self.assertGreaterEqual(res["failed"], 1)
        missing = set(layers) - printed(traced.stdout)
        self.assertFalse(missing, f"not printed: {sorted(missing)}")
        self.assertTrue((ROOT / ".bench_work" / "results" / f"{workload}-s7-t1.spans.jsonl").is_file())

        for inject in INJECT[workload][1:]:
            r = run("--workload", workload, "--seed", "7", "--seconds", "1", "--size", "tiny",
                    "--inject", inject)
            self.assertEqual(r.returncode, 0, r.stderr[-3000:])
            res = json.loads(r.stdout.splitlines()[-1])
            self.assertFalse(res["correct"], f"{inject} went unnoticed")
            self.assertGreaterEqual(res["failed"], 1)

    def test_query_mix(self):
        self.check("query_mix")

    def test_layout_rw(self):
        self.check("layout_rw")


class Harness(unittest.TestCase):
    def test_fails_without_program_sources(self):
        bare = SCRATCH / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for f in BENCH.rglob("*"):
            if f.is_file() and "__pycache__" not in f.parts:
                dst = bare / f.relative_to(ROOT)
                dst.parent.mkdir(parents=True, exist_ok=True)
                shutil.copy(f, dst)
        r = run("--workload", "query_mix", "--seed", "1", "--seconds", "1", cwd=bare)
        shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn('"metrics"', r.stdout)

    def test_generators_are_deterministic(self):
        def digest(d):
            h = hashlib.sha256()
            for p in sorted(x for x in d.rglob("*") if x.is_file()):
                h.update(p.name.encode() + p.read_bytes())
            return h.hexdigest()
        out = {}
        for k in ("a", "b"):
            d = SCRATCH / f"gen-{k}"
            shutil.rmtree(d, ignore_errors=True)
            gen.corpus(d / "corpus", "tiny", 5)
            gen.tables(d / "tables", "tiny", 5)
            out[k] = digest(d)
            shutil.rmtree(d)
        self.assertEqual(out["a"], out["b"])


if __name__ == "__main__":
    unittest.main()
