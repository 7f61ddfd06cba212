"""The benchmark's workloads: set-up, the measured closed loop, and checks.

Every layer is reached from outside through its public calls:
`session.get_spark`, `sources.tables.load_table`, `operators.pipeline`,
`streaming.incremental`, `operators.dedup`, `operators.graph` and
`operators.similarity`. One process, one client: each operation starts
after the previous one has returned (a closed loop).

`ais` runs the reference's job in both of its modes, interleaved: full
backlog passes (enrich, partitioned write, daily counts) give the
throughput; incremental deltas (land one file, drain it as a stream, read
the growing output's daily counts back) give the latency.

`corpus` runs the LLM-data operators: full near-duplicate dedup runs give
the throughput; top-10 vector search requests give the latency.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

from perfbench import check, gen
from posting_lines_spark.operators import dedup, graph, pipeline, similarity
from posting_lines_spark.sources.tables import load_table
from posting_lines_spark.streaming.incremental import enrich_available_now

WARM_DELTAS = 1  # the first deltas after a drain are slow (JIT, caches)
SAMPLE_ROWS = 300  # incremental output rows recomputed in Python
CHECK_DAYS = 6  # days of the last pass's output checked row by row

# 12 bands of 2 rows: with independent hashes a pair at the Jaccard
# threshold becomes a candidate with probability 1 - (1 - 0.7**2)**12 > 0.999
NUM_HASHES, BANDS, HOT_WIDTH, JACCARD_T = 24, 12, 256, 0.7
# A dedup run that leaves many planted near-duplicate documents unpaired
# fails its check, so a lossy shortcut cannot pass as a speed-up (dropping
# the hot buckets would leave about half of them unpaired). The floor is
# on documents, not pairs: the program's hashes (one md5 per shingle,
# mixed) are correlated, so a boilerplate member, or a block of members,
# can miss every band at once, and each member costs 279 of ~40k planted
# pairs. On seeds 0-399 pair recall was 0.862-1.0 and document recall
# 0.962-1.0. Document recall also goes into `recall`: it weighs each
# cluster by its documents, where pair recall is almost all the
# boilerplate cluster's, and over 10 of those seeds its quartile spread
# is typically 0.008, against 0.013 for pair recall.
DOC_RECALL_FLOOR = 0.9
NUM_PLANES, PROBES, TOP_K = 4, 2, 10


class Workload:
    """Shared closed loop: subclasses define the two operations."""

    name = ""
    latency_per_throughput = 4  # operations of each kind in one measured cycle
    throughput_slot = 0
    # fewest operations per run, whatever --seconds says
    min_throughput_ops = 2
    min_latency_ops = 8

    def __init__(self, inputs: str, work: str, tracer):
        self.inputs = inputs
        self.work = work
        self.tr = tracer
        self.manifest = gen.load_manifest(inputs)
        self.attempted = 0  # operations, warm-up ones and the final check included
        self.failed = 0
        self.failures: list[str] = []
        self.throughput_s: list[float] = []
        self.latency_s: list[float] = []
        self.traced_s: dict[str, list[float]] = {"throughput": [], "latency": []}
        self.untraced_s: dict[str, list[float]] = {"throughput": [], "latency": []}
        self.recall = 1.0

    # subclasses define work_items, warm_up(spark), throughput_op(),
    # latency_op() and finish()

    def outcome(self, label: str, errors: list[str]) -> None:
        """Count one checked operation; any error fails it."""
        self.attempted += 1
        if errors:
            self.failed += 1
            self.failures.extend(f"{self.name} {label}: {e}" for e in errors[: check.MAX_ERRORS])

    def _record(self, kind: str, errors: list[str], seconds: float) -> None:
        self.outcome(f"{kind} op {self.attempted + 1}", errors)
        (self.throughput_s if kind == "throughput" else self.latency_s).append(seconds)
        (self.traced_s if self.tr.on else self.untraced_s)[kind].append(seconds)

    def measure(self, seconds: float, hard_stop: float) -> None:
        """Repeat cycles of `latency_per_throughput` latency operations and
        one throughput operation (at position `throughput_slot`) until
        `seconds` have passed and the minimum sample counts are met, or
        until `hard_stop`."""
        start = time.perf_counter()
        i = 0
        while True:
            kind = "throughput" if i % (self.latency_per_throughput + 1) == self.throughput_slot else "latency"
            now = time.perf_counter()
            enough = len(self.throughput_s) >= self.min_throughput_ops and len(self.latency_s) >= self.min_latency_ops
            if (now - start >= seconds and enough) or now >= hard_stop or not self.can_run(kind):
                break
            # traced runs alternate traced and untraced operations; the
            # difference of the two is the tracing overhead
            self.tr.active = i % 2 == 0
            t0 = time.perf_counter()
            try:
                errors, seconds_op = getattr(self, f"{kind}_op")()
            except Exception as exc:  # a failed operation counts; the loop goes on
                traceback.print_exc()
                errors, seconds_op = [f"raised {exc!r}"[:300]], time.perf_counter() - t0
            self._record(kind, errors, seconds_op)
            i += 1
        self.tr.active = True

    def can_run(self, kind: str) -> bool:
        return True

    def end_to_end(self, setup_s: float, peak_rss_mb: float) -> dict[str, float]:
        return {
            "setup_s": setup_s,
            "latency_p50_s": statistics.median(self.latency_s),
            "throughput_per_s": self.work_items / statistics.median(self.throughput_s),
            "recall": self.recall,
            "peak_rss_mb": peak_rss_mb,
        }

    def tracing_overhead_s(self) -> float:
        """Median traced minus median untraced wall time, per operation kind, summed."""
        out = 0.0
        for kind in ("throughput", "latency"):
            if self.traced_s[kind] and self.untraced_s[kind]:
                out += statistics.median(self.traced_s[kind]) - statistics.median(self.untraced_s[kind])
        return out

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path


def _segment_rows(table) -> list[dict]:
    rows = table.to_pylist()
    for r in rows:
        r["start_time"] = int(r["start_time"].timestamp() * 1_000_000) if r["start_time"] else None
    return rows


class Ais(Workload):
    """Backlog passes (throughput) and incremental deltas (latency)."""

    name = "ais"
    throughput_slot = 0  # a pass first: deltas run slower until the kernel has seen a full pass

    def __init__(self, inputs: str, work: str, tracer):
        super().__init__(inputs, work, tracer)
        m = self.manifest
        self.work_items = m["rows"]
        self.slices = sorted(os.listdir(os.path.join(inputs, "slices")))
        self.expected_batch = {gen.day_name(d): c for d, c in enumerate(m["day_counts"]) if c}
        self._last_mtime = 0.0
        self._checked_rows = self._bad_rows = 0

    # --- the two operations ---

    def batch_pass(self, table: str, out_dir: str) -> list:
        tr, spark = self.tr, self.spark
        with tr.span("sources.scan"):
            df = tr.cut(load_table(spark, self.inputs, table))
        if tr.on:
            tr.count("sources.files_read", self._files_in(table))
            tr.count("sources.bytes_read", self._bytes_in(table))
        with tr.span("pipeline.enrich"):
            enriched = tr.cut(pipeline.enrich_segments(df))
        with tr.span("pipeline.write"):
            pipeline.write_daily_partitioned(enriched, out_dir)
        with tr.span("pipeline.daily_counts"):
            rows = pipeline.daily_counts(enriched).collect()
        return [(str(r["day"]), r["n_segments"]) for r in rows]

    def throughput_op(self):
        out = os.path.join(self.work, "batch_out")
        t0 = time.perf_counter()
        with self.tr.span("op.pass", run=len(self.throughput_s)):
            rows = self.batch_pass("backlog", out)
        dt = time.perf_counter() - t0
        if self.tr.on:
            self._count_pass(out)
        return check.check_daily_counts(rows, self.expected_batch), dt

    def can_run(self, kind: str) -> bool:
        return kind == "throughput" or self.next_slice < len(self.slices)

    def latency_op(self):
        self._land(self.next_slice)
        self._add_slice_counts(self.next_slice)
        self.next_slice += 1
        t0 = time.perf_counter()
        with self.tr.span("op.delta", run=self.next_slice):
            rows = self._delta()
        dt = time.perf_counter() - t0
        return check.check_daily_counts(rows, self._expected_inc()), dt

    def _delta(self) -> list:
        tr, spark = self.tr, self.spark
        with tr.span("incremental.drain"):
            enrich_available_now(spark, self.inc_src, self.inc_out, self.inc_chk)
        # the same layer calls as a backlog pass, under their own span
        # names, so the pass and the delta each get their own figures
        with tr.span("incremental.scan"):
            df = tr.cut(load_table(spark, self.inc_dir, "enriched").select("start_time"))
        if tr.on:
            tr.count("incremental.output_files", self._parquet_files(self.inc_out))
            tr.count("incremental.output_bytes", self._dir_bytes(self.inc_out))
        with tr.span("incremental.daily_counts"):
            rows = pipeline.daily_counts(df).collect()
        return [(str(r["day"]), r["n_segments"]) for r in rows]

    # --- set-up ---

    def warm_up(self, spark) -> None:
        """Run one full backlog pass (the first one is much slower than the
        rest), drain the base table into fresh incremental state, and run
        the warm-up deltas."""
        self.spark = spark
        tr_active, self.tr.active = self.tr.active, False
        self.batch_pass("backlog", os.path.join(self.work, "batch_out"))
        self.inc_dir = self.fresh_dir("inc")
        self.inc_src = os.path.join(self.inc_dir, "src")
        self.inc_out = os.path.join(self.inc_dir, "enriched.parquet")
        self.inc_chk = os.path.join(self.inc_dir, "checkpoint")
        os.makedirs(self.inc_src)
        shutil.copyfile(os.path.join(self.inputs, "base.parquet", "part-00000.parquet"),
                        os.path.join(self.inc_src, "base.parquet"))
        self.inc_counts = {int(d): c for d, c in enumerate(self.manifest["base_day_counts"]) if c}
        self.next_slice = 0
        enrich_available_now(spark, self.inc_src, self.inc_out, self.inc_chk)
        for _ in range(WARM_DELTAS):
            self._land(self.next_slice)
            self._add_slice_counts(self.next_slice)
            self.next_slice += 1
            self.outcome("warm-up delta", check.check_daily_counts(self._delta(), self._expected_inc()))
        self.tr.active = tr_active

    def _land(self, i: int) -> None:
        """Land slice i atomically (hidden name, then rename) with an
        mtime strictly after every earlier file's."""
        dst = os.path.join(self.inc_src, self.slices[i])
        tmp = os.path.join(self.inc_src, "." + self.slices[i])
        shutil.copyfile(os.path.join(self.inputs, "slices", self.slices[i]), tmp)
        mtime = max(time.time(), self._last_mtime + 0.01)
        os.utime(tmp, (mtime, mtime))
        os.replace(tmp, dst)
        self._last_mtime = mtime

    def _add_slice_counts(self, i: int) -> None:
        for d, c in self.manifest["slice_day_counts"][i].items():
            self.inc_counts[int(d)] = self.inc_counts.get(int(d), 0) + c

    def _expected_inc(self) -> dict[str, int]:
        return {gen.day_name(d): c for d, c in self.inc_counts.items()}

    # --- trace counts ---

    def _files_in(self, table: str) -> int:
        return self._parquet_files(os.path.join(self.inputs, f"{table}.parquet"))

    def _bytes_in(self, table: str) -> int:
        return self._dir_bytes(os.path.join(self.inputs, f"{table}.parquet"))

    @staticmethod
    def _parquet_files(path: str) -> int:
        return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)

    @staticmethod
    def _dir_bytes(path: str) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
        )

    def _count_pass(self, out: str) -> None:
        m, tr = self.manifest, self.tr
        dropped = m["rows"] - m["kept_rows"]
        tr.count("pipeline.rows_in", m["rows"])
        tr.count("pipeline.rows_enriched", m["enriched_rows"])
        tr.count("pipeline.rows_preserved", m["kept_rows"] - m["enriched_rows"])
        tr.count("pipeline.rows_dropped", dropped)
        enrich_s = [s for s in tr.spans if s.name == "pipeline.enrich"][-1]
        tr.count("pipeline.enrich_rows_per_s", m["rows"] / max(enrich_s.end - enrich_s.start, 1e-9))
        tr.count("pipeline.files_written", self._parquet_files(out))
        tr.count("pipeline.bytes_written_per_input_byte", self._dir_bytes(out) / self._bytes_in("backlog"))

    # --- final checks (untimed) ---

    def finish(self) -> None:
        """Check every written row of a few seeded days of the last pass,
        and the whole incremental output, against the generated inputs."""
        spark = self.spark
        rng = np.random.default_rng(self.manifest["seed"])
        backlog = pq.read_table(os.path.join(self.inputs, "backlog.parquet"))
        day = backlog.column("start_time").cast(pa.int64()).to_numpy() // 86_400_000_000 - gen.EPOCH0_S // 86_400
        days = rng.choice(np.flatnonzero(np.bincount(day)), CHECK_DAYS, replace=False)
        out = os.path.join(self.work, "batch_out")
        written = spark.read.option("basePath", out).parquet(*(f"{out}/__day={gen.day_name(d)}" for d in days))
        errors = self._check_rows(written, backlog.filter(np.isin(day, days)), "pass")
        # the incremental output must be exactly base + every landed slice
        base = pq.read_table(os.path.join(self.inputs, "base.parquet"))
        landed = [pq.read_table(os.path.join(self.inputs, "slices", s)) for s in self.slices[: self.next_slice]]
        inputs = pa.concat_tables([base, *landed])
        enriched = load_table(spark, self.inc_dir, "enriched")
        ids = rng.choice(inputs.num_rows, SAMPLE_ROWS, replace=False)
        errors += self._check_rows(enriched, inputs.take(ids), "incremental", sample=True)
        keep = inputs.filter(pc.not_equal(inputs.column("duration"), 0))
        out_ids = np.sort(enriched.select("segment_id").toPandas()["segment_id"].to_numpy())
        if not np.array_equal(out_ids, np.sort(keep.column("segment_id").to_numpy())):
            errors.append(
                f"incremental output holds {len(out_ids)} segments, expected exactly the "
                f"{keep.num_rows} kept rows of base + {self.next_slice} slices"
            )
        self.recall = 1.0 - self._bad_rows / self._checked_rows
        self.outcome("final check", errors)

    def _check_rows(self, df, inputs, label: str, sample: bool = False) -> list[str]:
        """Recompute the output rows of `inputs` in Python. Unless
        `sample`, `df` must hold no other rows. `recall` is the share of
        checked rows that match."""
        rows = _segment_rows(inputs)
        if sample:
            df = df.filter(F.col("segment_id").isin([r["segment_id"] for r in rows]))
        got = df.withColumn("start_time", F.unix_micros("start_time")).drop("__day").collect()
        outputs = {r["segment_id"]: r.asDict(recursive=True) for r in got}
        errors = check.check_segments(rows, outputs)
        self._checked_rows += len(rows)
        self._bad_rows += len(errors)
        if len(got) != len(outputs):
            errors.append("a segment appears twice")
        extra = set(outputs) - {r["segment_id"] for r in rows}
        if extra:
            errors.append(f"{len(extra)} unexpected segments, e.g. {min(extra)}")
        return [f"{label} output: {e}" for e in errors]


class Corpus(Workload):
    """Dedup runs (throughput) and top-10 search requests (latency)."""

    name = "corpus"
    latency_per_throughput = 6  # one dedup run costs about as much as the six requests
    throughput_slot = 6  # last: the first request after a dedup run is slow
    min_throughput_ops = 1
    min_latency_ops = 6

    def __init__(self, inputs: str, work: str, tracer):
        super().__init__(inputs, work, tracer)
        self.work_items = self.manifest["docs"]
        self.queries = np.load(os.path.join(inputs, "queries.npy"))
        self.batch = self.manifest["sizes"]["request_vectors"]
        self.results: dict[int, list] = {}
        self.next_request = 0
        self.dedup_pairs: list | None = None
        self.dedup_groups: list | None = None

    def warm_up(self, spark) -> None:
        """Cache the embedding index and hyperplanes, then run one dedup
        over the small warm-up corpus and one search request."""
        self.spark = spark
        tr_active, self.tr.active = self.tr.active, False
        self.emb = load_table(spark, self.inputs, "embeddings").cache()
        self.emb.count()
        self.planes = similarity.hyperplanes(spark, NUM_PLANES, self.manifest["sizes"]["dims"]).cache()
        self.planes.count()
        self.dedup_run("warm_documents", self.fresh_dir("warm_groups"))
        for i in (1, 2):
            self.search(len(self.queries) // self.batch - i)
        self.tr.active = tr_active

    def dedup_run(self, table: str, out_dir: str):
        tr, spark = self.tr, self.spark
        docs = load_table(spark, self.inputs, table)
        with tr.span("dedup.shingles"):
            # consumed twice (signatures and verification): cut it once
            sh = dedup.shingles(docs, "doc_id", "text").localCheckpoint(eager=tr.on)
        with tr.span("dedup.signature"):
            sig = tr.cut(dedup.minhash_signature(sh, "doc_id", NUM_HASHES))
        with tr.span("dedup.candidates"):
            cand = tr.cut(dedup.lsh_candidate_pairs(sig, "doc_id", NUM_HASHES, BANDS, hot_width=HOT_WIDTH))
        with tr.span("dedup.verify"):
            pairs = dedup.jaccard_verify(cand, sh, "doc_id", JACCARD_T).localCheckpoint(eager=tr.on)
        with tr.span("graph.components"):
            groups = tr.cut(graph.dedup_groups(graph.connected_components(pairs)))
        groups.write.mode("overwrite").parquet(out_dir)
        if tr.on:
            n_cand, n_pairs = cand.count(), pairs.count()
            tr.count("dedup.candidate_pairs", n_cand)
            tr.count("dedup.verified_pairs", n_pairs)
            tr.count("dedup.verify_yield", n_pairs / max(n_cand, 1))
            widths = dedup.band_signatures(sig, "doc_id", NUM_HASHES, BANDS).groupBy("band_idx", "band_key").count()
            tr.count("dedup.max_bucket_width", widths.agg(F.max("count")).first()[0])
            tr.count("graph.edges_in", n_pairs)
            tr.count("graph.groups_out", groups.count())
        return pairs, groups

    def throughput_op(self):
        t0 = time.perf_counter()
        with self.tr.span("op.dedup", run=len(self.throughput_s)):
            pairs, groups = self.dedup_run("documents", os.path.join(self.work, "groups"))
        dt = time.perf_counter() - t0
        got = sorted(tuple(r) for r in pairs.collect())
        errors = []
        if self.dedup_pairs is not None and got != self.dedup_pairs:
            errors.append("dedup pairs differ between runs on the same corpus")
        self.dedup_pairs = got
        self.dedup_groups = [
            (r["survivor"], r["n_members"], r["n_drops"])
            for r in self.spark.read.parquet(os.path.join(self.work, "groups")).collect()
        ]
        return errors, dt

    def can_run(self, kind: str) -> bool:
        return kind == "throughput" or self.next_request < len(self.queries) // self.batch - 2

    def latency_op(self):
        i = self.next_request
        self.next_request += 1
        t0 = time.perf_counter()
        with self.tr.span("op.search", run=i):
            rows = self.search(i)
        dt = time.perf_counter() - t0
        errors = []
        for r in rows:
            j = r["query_id"] - gen.QUERY_ID0
            if not i * self.batch <= j < (i + 1) * self.batch:
                errors.append(f"request {i} returned a row for query {j}")
                break
            self.results.setdefault(j, []).append((r["vec_id"], r["cosine"], r["rank"]))
        return errors, dt

    def search(self, i: int) -> list:
        tr, spark = self.tr, self.spark
        q = self.queries[i * self.batch : (i + 1) * self.batch]
        qdf = spark.createDataFrame(
            [(gen.QUERY_ID0 + i * self.batch + j, q[j].tolist()) for j in range(len(q))], _QUERY_SCHEMA
        )
        if tr.on:
            # `ivf_topk` bucketizes inside its own plan; this separate call
            # times the same bucketing on its own and sizes the buckets
            with tr.span("similarity.bucketize"):
                buckets = tr.cut(similarity.bucketize(self.emb, self.planes))
            self._count_candidates(buckets, qdf)
        with tr.span("similarity.topk"):
            return similarity.ivf_topk(
                self.emb, qdf, self.planes, TOP_K, probes=PROBES, num_planes=NUM_PLANES
            ).collect()

    def _count_candidates(self, buckets, qdf) -> None:
        sizes = {r["bucket"]: r["count"] for r in buckets.groupBy("bucket").count().collect()}
        masks = similarity.probe_masks(NUM_PLANES, PROBES)
        qb = [r["bucket"] for r in similarity.bucketize(qdf, self.planes).collect()]
        per_query = [sum(sizes.get(b ^ m, 0) for m in masks) for b in qb]
        self.tr.count("similarity.candidates_per_query", statistics.mean(per_query))
        self.tr.count("similarity.max_bucket_size", max(sizes.values()))

    def finish(self) -> None:
        """Exact Jaccard for every reported pair, planted-pair recall,
        groups against the pair graph, and top-k against numpy."""
        docs = pq.read_table(os.path.join(self.inputs, "documents.parquet")).to_pydict()
        shingles = {i: check.shingle_set(t) for i, t in zip(docs["doc_id"], docs["text"])}
        pairs = self.dedup_pairs or []
        errors = [f"dedup: {e}" for e in check.check_pairs(pairs, shingles, JACCARD_T)]
        found = {(a, b) for a, b, _, _ in pairs}
        planted = check.planted_pairs(self.manifest["clusters"], shingles, JACCARD_T)
        pair_recall, doc_recall = check.planted_recall(planted, found)
        if doc_recall < DOC_RECALL_FLOOR:
            errors.append(f"dedup: paired {doc_recall:.4f} of the planted documents, below {DOC_RECALL_FLOOR}")
        errors += [f"groups: {e}" for e in check.check_groups(self.dedup_groups or [], sorted(found))]
        emb = self.emb.orderBy("vec_id").toPandas()
        corpus = np.stack(emb["embedding"].to_numpy()).astype(np.float32)
        if not np.array_equal(emb["vec_id"].to_numpy(), np.arange(len(corpus))):
            errors.append("embeddings are not indexed 0..n-1")
        asked = self.next_request * self.batch  # a query with no result still counts
        search_errors, search_recall = check.check_topk(self.results, self.queries[:asked], corpus, TOP_K)
        errors += [f"search: {e}" for e in search_errors]
        self.recall = doc_recall * search_recall  # a loss in either lowers it
        self.tr.count("dedup.pair_recall", pair_recall)
        self.tr.count("dedup.doc_recall", doc_recall)
        self.tr.count("similarity.recall_at_10", search_recall)
        self.outcome("final check", errors)


_QUERY_SCHEMA = StructType([StructField("vec_id", LongType()), StructField("embedding", ArrayType(FloatType()))])

WORKLOADS = {"ais": Ais, "corpus": Corpus}
