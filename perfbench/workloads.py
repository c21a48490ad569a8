"""The benchmark's workloads: one job each, its correctness check, and the
traced per-layer measurement.

A workload object owns its cached input DataFrame and known answer. Its
``job`` is one complete run of the library entry point; ``check`` compares
what the job produced against the answer (untimed) and returns
``(rows attempted, rows failed)``; ``layers`` measures each library layer
separately and returns the per-layer metrics.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from inputs import DedupSpec, PagesSpec
from probes import SparkStats, Tracer

# Extraction plan shape for local[4]: 16 salt buckets plus 8 skew buckets
# for payloads over 64 KB, so the planted ~60x blobs take the skew path
# and the ~15 KB heavy pages do not.
N_BUCKETS = 16
SKEW_BUCKETS = 8
SKEW_BYTES = 1 << 16
HALF_BUCKETS = (N_BUCKETS + SKEW_BUCKETS) // 2
RUN_ID = "bench"

# What the seed code returns for each malformed payload that
# ``generate_pages`` plants: (payload_kind, extract_ok, extracted_text).
# Every one of them gets notes == "No patterns matched" (empty text).
MALFORMED = {
    b"\x00\x01\x02truncated-garbage\xff\xfe": ("unknown", False, None),
    b"%PDF-SYN1\nPAGE\nBT 10 10 Td (unterminated": ("pdf", True, ""),
    b"<html><body><div>never closed": ("html", True, "never closed"),
    b"": ("empty", False, None),
}
MALFORMED_NOTES = "No patterns matched"

# The dynamic-field config the golden fixtures were generated with.
GOLDEN_DYNAMIC = {
    "permit": [r"\bLIC[-_\s]?(\d{3,})\b", r"\bNo\.?\s*(\d{1,10})\b"],
    "year": [r"\b(20\d{2})\b"],
    "badpat": [r"([unclosed", r"\bREF[-_\s]*([A-Z0-9]{4,10})\b"],
}
GOLDEN_COLUMNS = ["license_id", "date", "reference_id", "address",
                  "start_date", "end_date", "licenses", "renew_times",
                  "notes", "permit", "year", "badpat"]

# Bytes of payload the single-threaded kernel timings run over.
KERNEL_SAMPLE_BYTES = 3_000_000
KERNEL_REPS = 5

EXTRACT_LAYERS = [
    "functions.html_extract.extract_main_batch.s_per_mb",
    "functions.pdf_layout.extract_pdf_text_one.s_per_mb",
    "functions.fields.extract_static_fields.s_per_mb",
    "functions.fields.extract_address.s_per_mb",
    "functions.fields.extract_date_range.s_per_mb",
    "functions.fields.extract_licenses_first_page.s_per_mb",
    "operators.payload.extract_text_batch.self_s_per_kdoc",
    "operators.extract.extract_fields_batch.self_s_per_kdoc",
    "plans.pipeline.with_buckets.noop_s",
    "plans.pipeline.with_buckets.skew_rows",
    "plans.pipeline.extract_all.noop_s",
    "plans.pipeline.run_extraction.write_s",
    "plans.pipeline.run_extraction.self_s",
    "plans.pipeline.run_extraction.driver_s",
    "plans.pipeline.run_extraction.jobs",
    "plans.pipeline.run_extraction.executor_run_s",
    "plans.pipeline.run_extraction.executor_cpu_s",
    "plans.pipeline.run_extraction.gc_s",
    "plans.pipeline.run_extraction.python_run_s",
    "plans.pipeline.run_extraction.python_sent_mb",
    "plans.pipeline.run_extraction.python_received_mb",
    "plans.pipeline.run_extraction.shuffle_write_mb",
    "plans.pipeline.run_extraction.spill_mb",
    "plans.pipeline.run_extraction.task_max_over_median",
    "plans.resume.completed_buckets_s",
    "plans.resume.append_manifests_s",
    "plans.resume.manifest_rows",
]
DEDUP_LAYERS = [
    "operators.dedup.minhash_signatures.noop_s",
    "operators.dedup.band_rows.candidate_pairs",
    "operators.dedup.minhash_lsh_pairs.verified_pairs",
    "operators.dedup.minhash_lsh_pairs.verified_over_candidates",
    "operators.dedup.minhash_lsh_pairs.self_s",
    "operators.dedup.minhash_lsh_pairs.shuffle_write_mb",
    "operators.dedup.minhash_lsh_pairs.python_run_s",
    "operators.dedup.minhash_lsh_pairs.jobs",
    "operators.components.connected_components.self_s",
    "operators.components.connected_components.jobs",
    "operators.components.keep_best.self_s",
    "operators.textstats.with_token_counts.self_s",
]
COMMON_LAYERS = [
    "session.get_spark_s",
    "sources.input_load_s",
    "trace.coverage_ratio",
    "trace.overhead_ratio",
    "memory.peak_rss_mb",
    "job.warm_wall_s",
    "job.cold_wall_s",
    "job.warm_jit_cpu_s",
]
LAYER_UNITS = {
    "s_per_mb": "s/MB", "s_per_kdoc": "s/kdoc", "_s": "s", "_mb": "MB",
    "jobs": "count", "rows": "count", "pairs": "count",
    "ratio": "ratio", "candidates": "ratio", "median": "ratio",
}


def layer_unit(name: str) -> str:
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    raise KeyError(name)


def min_times(fns: dict, reps: int = KERNEL_REPS) -> dict:
    """Fastest of ``reps`` timings per function, the rounds interleaved so
    that a burst of interference on the host hits every kernel alike."""
    best = {name: float("inf") for name in fns}
    for _ in range(reps):
        for name, fn in fns.items():
            t0 = time.perf_counter()
            fn()
            best[name] = min(best[name], time.perf_counter() - t0)
    return best


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Shared plumbing: the cached input, the answer, a scratch dir."""

    def __init__(self, spark, data, input_dir: str, work_dir: str):
        self.spark = spark
        self.data = data
        self.input_dir = input_dir
        self.work_dir = work_dir
        self.rows = 0
        # set by ``layers``: the traced job's wall time, the sum of the
        # separately measured layer times, and the traced job's check
        self.traced_s = 0.0
        self.accounted_s = 0.0
        self.check_after_trace = (0, 0)

    def layers(self, tracer: Tracer, seed: int) -> dict:
        raise NotImplementedError


class Extraction(Workload):
    """``plans.pipeline.run_extraction`` over a page table. With
    ``resume=True`` the job is an interrupted run over half the buckets
    followed by a resume with the same run id."""

    def __init__(self, spark, data, input_dir, work_dir, resume: bool):
        super().__init__(spark, data, input_dir, work_dir)
        self.resume = resume
        self.answer = self._expected(pd.read_parquet(
            os.path.join(input_dir, "answer.parquet")))
        self.rows = len(self.answer)
        self._n = 0
        self.out_dir = ""
        self.summaries: list[dict] = []

    @staticmethod
    def _expected(ans: pd.DataFrame) -> pd.DataFrame:
        bad = ans["payload_kind"] == "bad"
        kinds, oks, texts = [], [], []
        for html, kind, main, is_bad in zip(ans["html"], ans["payload_kind"],
                                            ans["expected_main"], bad):
            if is_bad:
                k, ok, t = MALFORMED[bytes(html)]
            else:
                k, ok, t = kind, True, main
            kinds.append(k)
            oks.append(ok)
            texts.append(t)
        return pd.DataFrame({
            "url": ans["url"], "kind": kinds, "ok": oks, "text": texts,
            "bytes": ans["html"].map(len).astype("int64"), "bad": bad,
        })

    def _run(self, out_dir: str) -> list[dict]:
        from ocr_system_spark.plans import pipeline

        kw = dict(run_id=RUN_ID, n_buckets=N_BUCKETS, skew_bytes=SKEW_BYTES,
                  skew_buckets=SKEW_BUCKETS)
        if not self.resume:
            return [pipeline.run_extraction(self.spark, self.data, out_dir, **kw)]
        first = pipeline.run_extraction(self.spark, self.data, out_dir,
                                        max_buckets=HALF_BUCKETS, **kw)
        second = pipeline.run_extraction(self.spark, self.data, out_dir, **kw)
        return [first, second]

    def prepare(self) -> None:
        """Untimed: drop the previous job's output and pick a fresh dir."""
        if self.out_dir:
            shutil.rmtree(self.out_dir, ignore_errors=True)
        self._n += 1
        self.out_dir = os.path.join(self.work_dir, f"extract_{self._n}")

    def job(self) -> None:
        self.summaries = self._run(self.out_dir)

    def check(self) -> tuple[int, int]:
        res = pd.read_parquet(
            os.path.join(self.out_dir, "results"),
            columns=["url", "bucket_id", "payload_kind", "n_bytes",
                     "extract_ok", "extracted_text", "notes"])
        exp = self.answer
        failed = int(res["url"].duplicated().sum())
        failed += int((~res["url"].isin(exp["url"])).sum())
        got = res.drop_duplicates("url").set_index("url")
        m = exp.join(got, on="url", how="left")
        missing = m["payload_kind"].isna()
        same_text = (m["extracted_text"] == m["text"]) | (
            m["extracted_text"].isna() & m["text"].isna())
        wrong = (~missing) & ~(
            (m["payload_kind"] == m["kind"]) & (m["extract_ok"] == m["ok"])
            & same_text & (m["n_bytes"] == m["bytes"])
            & (~m["bad"] | (m["notes"] == MALFORMED_NOTES)))
        failed += int(missing.sum()) + int(wrong.sum())
        failed += self._check_manifests(res)
        if self.resume:
            first, second = self.summaries
            if not (0 < first["buckets_processed"] <= HALF_BUCKETS
                    and second["buckets_done_before"] == first["buckets_processed"]
                    and second["buckets_processed"] > 0):
                failed += 1
        return self.rows, failed

    def _check_manifests(self, res: pd.DataFrame) -> int:
        """Manifest docs/bytes/fail sums must equal the written results,
        with one manifest row per written bucket."""
        from ocr_system_spark.plans.resume import manifest_path

        man = pd.read_parquet(manifest_path(self.out_dir))
        man = man[man["run_id"] == RUN_ID]
        res_buckets = res.assign(bucket_id=res["bucket_id"].astype("int64"),
                                 fail=~res["extract_ok"])
        per = res_buckets.groupby("bucket_id").agg(
            docs=("url", "size"), bytes=("n_bytes", "sum"),
            extract_fail_count=("fail", "sum"))
        if man["bucket_id"].duplicated().any():
            return int(man["bucket_id"].duplicated().sum())
        m = per.join(man.set_index("bucket_id")[
            ["docs", "bytes", "extract_fail_count"]], rsuffix="_m", how="outer")
        bad = m.isna().any(axis=1) | (m["docs"] != m["docs_m"]) | (
            m["bytes"] != m["bytes_m"]) | (
            m["extract_fail_count"] != m["extract_fail_count_m"])
        return int(bad.sum())

    def golden_check(self, fixtures: str) -> int:
        """Run the reference-generated fixture pages through run_extraction
        and compare every field column byte for byte with the goldens.
        Returns the number of rows that differ."""
        from ocr_system_spark.plans import pipeline

        pages = pd.read_parquet(os.path.join(fixtures, "pages_2000.parquet"))
        golden = pd.read_parquet(
            os.path.join(fixtures, "golden_fields_2000.parquet"))
        df = self.spark.createDataFrame(
            pages[["url", "warc_ts", "html", "text", "lang"]]).repartition(8)
        out = os.path.join(self.work_dir, "golden")
        shutil.rmtree(out, ignore_errors=True)
        pipeline.run_extraction(self.spark, df, out, run_id="golden",
                                n_buckets=N_BUCKETS, skew_bytes=SKEW_BYTES,
                                skew_buckets=SKEW_BUCKETS,
                                dynamic_config=GOLDEN_DYNAMIC, resume=False)
        got = pd.read_parquet(os.path.join(out, "results"),
                              columns=["url", *GOLDEN_COLUMNS])
        shutil.rmtree(out, ignore_errors=True)
        got = got.drop_duplicates("url").set_index("url").reindex(golden["url"])
        differ = np.zeros(len(golden), dtype=bool)
        for col in GOLDEN_COLUMNS:
            for i, (o, g) in enumerate(zip(got[col], golden[col])):
                o = None if o is None or (isinstance(o, float) and pd.isna(o)) else o
                g = None if g is None or (isinstance(g, float) and pd.isna(g)) else g
                if (o is None) != (g is None) or (
                        o is not None and o.encode() != g.encode()):
                    differ[i] = True
        return int(differ.sum()) + int(len(got) != len(golden))

    # ---- traced per-layer measurement ---------------------------------

    def _kernel_sample(self, seed: int) -> pd.DataFrame:
        pages = pd.read_parquet(os.path.join(self.input_dir, "input.parquet"),
                                columns=["url", "html", "text"])
        order = np.random.default_rng(seed).permutation(len(pages))
        sizes = pages["html"].map(len).to_numpy()[order]
        take = order[:int(np.searchsorted(np.cumsum(sizes), KERNEL_SAMPLE_BYTES)) + 1]
        return pages.iloc[np.sort(take)].reset_index(drop=True)

    def _kernels(self, seed: int) -> dict:
        """Single-threaded pure-pandas kernel timings on a fixed sample."""
        from ocr_system_spark.functions import fields, html_extract, pdf_layout
        from ocr_system_spark.operators.extract import extract_fields_batch
        from ocr_system_spark.operators.payload import extract_text_batch

        s = self._kernel_sample(seed)
        html = [bytes(b) for b in s["html"]]
        html_docs = [b.decode("utf-8", errors="replace") for b in html
                     if b[:256].lstrip().startswith(b"<")]
        pdf_docs = [b for b in html if b.startswith(b"%PDF")]
        html_mb = sum(len(d.encode()) for d in html_docs) / 1e6
        pdf_mb = sum(len(b) for b in pdf_docs) / 1e6
        texts = s["text"]
        text_mb = float(texts.str.len().sum()) / 1e6
        kdocs = len(s) / 1e3

        def pdf_all():
            for b in pdf_docs:
                try:
                    pdf_layout.extract_pdf_text_one(b)
                except Exception:  # malformed payloads raise by design
                    pass

        field_names = ("extract_static_fields", "extract_address",
                       "extract_date_range", "extract_licenses_first_page")
        t = min_times({
            "html": lambda: html_extract.extract_main_batch(html_docs),
            "pdf": pdf_all,
            **{name: (lambda fn=getattr(fields, name): fn(texts))
               for name in field_names},
            "text_op": lambda: extract_text_batch(s[["url", "html"]]),
            "field_op": lambda: extract_fields_batch(s[["url", "text"]]),
        })
        out = {
            "functions.html_extract.extract_main_batch.s_per_mb": t["html"] / html_mb,
            "functions.pdf_layout.extract_pdf_text_one.s_per_mb": t["pdf"] / pdf_mb,
            "operators.payload.extract_text_batch.self_s_per_kdoc":
                (t["text_op"] - t["html"] - t["pdf"]) / kdocs,
            "operators.extract.extract_fields_batch.self_s_per_kdoc":
                (t["field_op"] - sum(t[n] for n in field_names)) / kdocs,
        }
        for name in field_names:
            out[f"functions.fields.{name}.s_per_mb"] = t[name] / text_mb
        return out

    def layers(self, tracer: Tracer, seed: int) -> dict:
        from ocr_system_spark.plans import pipeline

        # the job itself first, right after the untraced warm jobs and so
        # at the same JIT state, with spans around its library calls
        self.prepare()
        resume = pipeline.resume_mod
        saved = [(pipeline, "run_extraction"), (resume, "completed_buckets"),
                 (resume, "append_manifests")]
        originals = [getattr(m, a) for m, a in saved]
        tracer.wrap(pipeline, "run_extraction", "plans.pipeline.run_extraction")
        tracer.wrap(resume, "completed_buckets", "plans.resume.completed_buckets")
        tracer.wrap(resume, "append_manifests", "plans.resume.append_manifests")
        try:
            t0 = time.perf_counter()
            self.job()
            traced_s = time.perf_counter() - t0
        finally:
            for (m, a), fn in zip(saved, originals):
                setattr(m, a, fn)
        self.check_after_trace = self.check()
        man = pd.read_parquet(resume.manifest_path(self.out_dir))

        out = self._kernels(seed)
        with tracer.span("plans.pipeline.with_buckets") as sp:
            bucketed = pipeline.with_buckets(self.data, N_BUCKETS, SKEW_BYTES,
                                             SKEW_BUCKETS)
            noop(bucketed)
        t_buckets = sp.seconds
        out["plans.pipeline.with_buckets.skew_rows"] = bucketed.filter(
            F.col("bucket_id") >= N_BUCKETS).count()
        spread = bucketed.repartition(N_BUCKETS + SKEW_BUCKETS, "bucket_id")
        with tracer.span("plans.pipeline.extract_all") as sp:
            noop(pipeline.extract_all(spread))
        t_extract = sp.seconds
        written = os.path.join(self.work_dir, "forced_write")
        with tracer.span("plans.pipeline.extract_all+write") as sp:
            (pipeline.extract_all(spread).write.mode("overwrite")
             .partitionBy("bucket_id").parquet(written))
        shutil.rmtree(written, ignore_errors=True)
        t_write = sp.seconds - t_extract

        def total(name):
            return sum(s.seconds for s in tracer.named(name))

        t_run = total("plans.pipeline.run_extraction")
        t_cb = total("plans.resume.completed_buckets")
        t_am = total("plans.resume.append_manifests")
        stats = SparkStats(self.spark)
        groups: set[str] = set()
        driver_s = 0.0
        for span in tracer.named("plans.pipeline.run_extraction"):
            groups |= tracer.groups_under(span)
            children = sum(c.seconds for c in tracer.spans
                           if c.parent is not None and tracer.spans[c.parent] is span)
            driver_s += span.seconds - children - stats.jobs_wall_s({span.group})
        st = stats.totals(groups)
        out.update({
            "plans.pipeline.with_buckets.noop_s": t_buckets,
            "plans.pipeline.extract_all.noop_s": t_extract,
            "plans.pipeline.run_extraction.write_s": t_write,
            "plans.pipeline.run_extraction.self_s":
                t_run - t_cb - t_am - t_extract - t_write,
            "plans.pipeline.run_extraction.driver_s": driver_s,
            "plans.pipeline.run_extraction.jobs": st.jobs,
            "plans.pipeline.run_extraction.executor_run_s": st.executor_run_s,
            "plans.pipeline.run_extraction.executor_cpu_s": st.executor_cpu_s,
            "plans.pipeline.run_extraction.gc_s": st.gc_s,
            "plans.pipeline.run_extraction.python_run_s": st.python_run_s,
            "plans.pipeline.run_extraction.python_sent_mb": st.python_sent_mb,
            "plans.pipeline.run_extraction.python_received_mb":
                st.python_received_mb,
            "plans.pipeline.run_extraction.shuffle_write_mb": st.shuffle_write_mb,
            "plans.pipeline.run_extraction.spill_mb": st.spill_mb,
            "plans.pipeline.run_extraction.task_max_over_median":
                st.task_max_over_median,
            "plans.resume.completed_buckets_s": t_cb,
            "plans.resume.append_manifests_s": t_am,
            "plans.resume.manifest_rows": int((man["run_id"] == RUN_ID).sum()),
        })
        # layers measured in their own executions, summed against the job
        self.accounted_s = t_extract + t_write + t_cb + t_am + driver_s
        self.traced_s = traced_s
        return out


class Dedup(Workload):
    """The fuzzy dedup composition: ``minhash_lsh_pairs`` ->
    ``connected_components`` -> ``keep_best`` by whitespace token count,
    from plan build to the collected kept ids."""

    def __init__(self, spark, data, input_dir, work_dir):
        super().__init__(spark, data, input_dir, work_dir)
        self.answer = set(pd.read_parquet(
            os.path.join(input_dir, "answer.parquet"))["doc_id"].tolist())
        self.rows = data.count()
        self.kept: list[int] = []

    def prepare(self) -> None:
        """Untimed: drop the caches the previous job left behind, so every
        job re-runs the shingle kernel, and re-pin the input."""
        self.spark.catalog.clearCache()
        self.data.cache().count()

    def _compose(self, fns: dict):
        docs = self.data
        edges = fns["minhash_lsh_pairs"](docs, "doc_id", min_jaccard_pct=70)
        comps = fns["connected_components"](
            edges, nodes=docs.select(F.col("doc_id").alias("id")))
        scored = fns["with_token_counts"](docs).select("doc_id", "ws_tokens")
        return fns["keep_best"](scored, comps, "ws_tokens", id_col="doc_id")

    @staticmethod
    def _library() -> dict:
        from ocr_system_spark.operators import components, dedup, textstats

        return {"minhash_lsh_pairs": dedup.minhash_lsh_pairs,
                "connected_components": components.connected_components,
                "with_token_counts": textstats.with_token_counts,
                "keep_best": components.keep_best}

    def job(self) -> None:
        kept = self._compose(self._library())
        self.kept = [r.doc_id for r in kept.select("doc_id").collect()]

    def check(self) -> tuple[int, int]:
        got = set(self.kept)
        failed = (len(self.kept) - len(got) + len(got - self.answer)
                  + len(self.answer - got))
        return self.rows, failed

    def layers(self, tracer: Tracer, seed: int) -> dict:
        from ocr_system_spark.operators import components, dedup, textstats

        docs = self.data
        # the job itself first, right after the untraced warm jobs and so
        # at the same JIT state, with a span around every library call
        self.prepare()
        traced = {name: tracer.traced(fn, f"{fn.__module__}.{name}")
                  for name, fn in self._library().items()}
        t0 = time.perf_counter()
        with tracer.span("perfbench.dedup_job"):
            kept = self._compose(traced)
            self.kept = [r.doc_id for r in kept.select("doc_id").collect()]
        self.traced_s = time.perf_counter() - t0
        self.check_after_trace = self.check()

        self.prepare()
        with tracer.span("operators.dedup.minhash_signatures") as sp:
            sig = dedup.minhash_signatures(docs, "doc_id")
            noop(sig)
        t_sig = sp.seconds
        bands = dedup.band_rows(sig)
        a = bands.select(F.col("id").alias("id_a"), "band", "bhash")
        b = bands.select(F.col("id").alias("id_b"), "band", "bhash")
        candidates = (a.join(b, ["band", "bhash"])
                      .filter(F.col("id_a") < F.col("id_b"))
                      .select("id_a", "id_b").distinct().count())

        self.prepare()
        with tracer.span("operators.dedup.minhash_lsh_pairs") as sp_pairs:
            edges = dedup.minhash_lsh_pairs(docs, "doc_id", min_jaccard_pct=70)
            noop(edges)
        t_pairs = sp_pairs.seconds
        verified = edges.count()

        # connected_components is eager: it runs the pairs plan once, so
        # its self time is its span minus the forced pairs time
        self.prepare()
        with tracer.span("operators.components.connected_components") as sp_cc:
            edges = dedup.minhash_lsh_pairs(docs, "doc_id", min_jaccard_pct=70)
            comps = components.connected_components(
                edges, nodes=docs.select(F.col("doc_id").alias("id")))
        t_cc = sp_cc.seconds
        with tracer.span("operators.textstats.with_token_counts") as sp:
            scored = textstats.with_token_counts(docs).select("doc_id", "ws_tokens")
            noop(scored)
        t_tok = sp.seconds
        with tracer.span("operators.components.keep_best") as sp:
            noop(components.keep_best(scored, comps, "ws_tokens", id_col="doc_id"))
        t_keep = sp.seconds


        stats = SparkStats(self.spark)
        pairs = stats.totals(tracer.groups_under(sp_pairs))
        cc = stats.totals(tracer.groups_under(sp_cc))
        self.accounted_s = t_cc + t_keep
        return {
            "operators.dedup.minhash_signatures.noop_s": t_sig,
            "operators.dedup.band_rows.candidate_pairs": candidates,
            "operators.dedup.minhash_lsh_pairs.verified_pairs": verified,
            "operators.dedup.minhash_lsh_pairs.verified_over_candidates":
                verified / candidates if candidates else 0.0,
            "operators.dedup.minhash_lsh_pairs.self_s": t_pairs - t_sig,
            "operators.dedup.minhash_lsh_pairs.shuffle_write_mb":
                pairs.shuffle_write_mb,
            "operators.dedup.minhash_lsh_pairs.python_run_s": pairs.python_run_s,
            "operators.dedup.minhash_lsh_pairs.jobs": pairs.jobs,
            "operators.components.connected_components.self_s": t_cc - t_pairs,
            "operators.components.connected_components.jobs": cc.jobs,
            "operators.components.keep_best.self_s": t_keep - t_tok,
            "operators.textstats.with_token_counts.self_s": t_tok,
        }


WORKLOADS = {
    "extract_web_heavy": (
        PagesSpec(rows=500, heft=10),
        lambda spark, data, d, w: Extraction(spark, data, d, w, resume=False)),
    "extract_small_skewed_resume": (
        PagesSpec(rows=800, heft=1, blob_share=0.01, blob_factor=60),
        lambda spark, data, d, w: Extraction(spark, data, d, w, resume=True)),
    "dedup_fuzzy": (
        DedupSpec(docs=900, vocab=100_000, zipf_s=1.1, words_lo=200,
                  words_hi=300, copy_share=1 / 3),
        lambda spark, data, d, w: Dedup(spark, data, d, w)),
}
