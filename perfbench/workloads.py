"""The benchmark's workloads: one-time state, one operation, output checks.

Each workload drives the package only through its public functions and
passes the program only files written by ``gen``. An operation is one day
(``cdp_daily``) or one ingest round, a micro-batch of each incremental twin
(``stream_ingest``). Layer boundaries are materialized (a persist and
count, a parquet write, or a ``noop`` write) in every run, so that a span
around one call times that layer's work and nothing after it.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
    build_band_index,
    minhash_candidate_pairs,
    near_dup_dedup,
    ngram_jaccard_pairs,
)
from automotive_data_pipeline_demo_spark.extensions.sampling import hash_split
from automotive_data_pipeline_demo_spark.extensions.similarity import (
    assign_to_stored_centroids,
    centroid_assignment_drift,
    kmeans_centroids,
)
from automotive_data_pipeline_demo_spark.extensions.text_analysis import (
    gopher_quality_rules,
    nfc_normalize_text,
    quality_score,
)
from automotive_data_pipeline_demo_spark.functions.adf import parsed_lead
from automotive_data_pipeline_demo_spark.functions.caching import release_caches
from automotive_data_pipeline_demo_spark.plans.etl import (
    MERGE_KEYS,
    VEHICLE_SALES_CAST,
    run_vehicle_sales_etl,
)
from automotive_data_pipeline_demo_spark.plans.refresh import (
    full_build_gold,
    key_bucket,
    read_gold,
    refresh_gold,
)
from automotive_data_pipeline_demo_spark.plans.views import build_view_dag
from automotive_data_pipeline_demo_spark.sources.inbox import (
    read_latest_encrypted_inbox,
    xor_decryptor,
)
from automotive_data_pipeline_demo_spark.sources.merge import merge_upsert
from automotive_data_pipeline_demo_spark.sources.readers import read_jsonl_typed
from automotive_data_pipeline_demo_spark.sources.sinks import write_jsonl_events
from automotive_data_pipeline_demo_spark.streaming.activation import (
    emit_new_events,
    mark_processed,
)
from automotive_data_pipeline_demo_spark.streaming.dedup import (
    streaming_dedup_ingest,
    streaming_semdedup_ingest,
)
from automotive_data_pipeline_demo_spark.streaming.identity import (
    resolve_identities_batch,
    streaming_session_match,
)
from automotive_data_pipeline_demo_spark.streaming.upsert import streaming_upsert

import gen
from spans import Tracer

VISITOR_SCHEMA = {"visitor_id": "string", "session_id": "string", "email": "string",
                  "phone": "string", "first_seen": "timestamp"}
LEAD_SCHEMA = {"received_at": "timestamp", "xml": "string"}
LEAD_STREAM_SCHEMA = "lead_id string, received_at timestamp, xml string"


def materialize(df: DataFrame) -> DataFrame:
    """Persist and count: the layer's work happens inside its span."""
    df = df.persist()
    df.count()
    return df


def noop_write(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def stage(staging: str, src: str, dst: str) -> None:
    """Copy ``src`` to ``dst`` by way of ``staging`` on the same filesystem
    and a rename, so that a query polling the ``dst`` directory lists
    either no file or the whole file, never a part of it."""
    os.makedirs(staging, exist_ok=True)
    tmp = os.path.join(staging, os.path.basename(dst))
    shutil.copyfile(src, tmp)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.replace(tmp, dst)


def differs(a: DataFrame, b: DataFrame) -> bool:
    """Whether two frames differ as multisets of rows."""
    return not a.exceptAll(b).unionAll(b.exceptAll(a)).isEmpty()


def _leads(spark: SparkSession, path: str, tracer: Tracer) -> DataFrame:
    """ADF XML lead records -> (lead_id, session_id, email, phone, lead_submitted_at)."""
    with tracer.span("sources.readers"):
        raw = read_jsonl_typed(spark, path, LEAD_SCHEMA, keep_corrupt=False)
    with tracer.span("functions.adf"):
        return materialize(
            raw.select(parsed_lead("xml").alias("l"),
                       F.col("received_at").alias("lead_submitted_at"))
            .select("l.lead_id", "l.session_id", "l.email", "l.phone", "lead_submitted_at")
        )


class Workload:
    """One workload over one set of generated inputs."""

    name = ""

    def __init__(self, spark: SparkSession, tracer: Tracer, inputs: dict, work: str):
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.work = work
        self.state = ""
        self.problems: list[str] = []

    def setup(self, state_dir: str) -> None:
        """Build the one-time state under ``state_dir`` (and use it)."""
        raise NotImplementedError

    def prepare(self, i: int) -> None:
        """Stage operation ``i``'s inputs (outside the op's wall time)."""

    def size(self, i: int) -> tuple[int, int]:
        """Operation ``i``'s input (rows, bytes)."""
        raise NotImplementedError

    def op(self, i: int) -> None:
        """Run operation ``i``."""
        raise NotImplementedError

    def verify_op(self, i: int) -> None:
        """Check operation ``i``'s outputs, outside its wall time; add any
        problem to ``problems``."""

    def after_op(self, i: int) -> None:
        """Traced-run bookkeeping that must stay outside the op's wall time."""

    def teardown(self) -> None:
        """Stop whatever ``setup`` started."""

    def record(self) -> dict:
        """Workload-specific detail for the run record."""
        return {}

    def check(self) -> list[str]:
        """Final output checks; return every problem found in the run."""
        raise NotImplementedError


# --------------------------------------------------------------- cdp_daily

class CdpDaily(Workload):
    """The reference's daily flow, day after day over a growing lake."""

    name = "cdp_daily"

    def setup(self, state_dir: str) -> None:
        spark, h = self.spark, self.inputs["history"]
        self.state = state_dir
        self.lake = f"{state_dir}/lake/vehicle_sales"
        self.cust = f"{state_dir}/lake/customer_master"
        self.gold = f"{state_dir}/gold"
        self.events_state = f"{state_dir}/activation_state"
        self.inbox = f"{state_dir}/inbox"
        self.out = f"{state_dir}/out"
        self._drop(h["customers"])
        cust = read_latest_encrypted_inbox(
            spark, self.inbox, gen.CUSTOMER_CAST, xor_decryptor(gen.XOR_KEY))
        merge_upsert(spark, self.cust, cust, keys=["custno"], order_by=["lastupdated"])
        run_vehicle_sales_etl(spark, h["sales"], self.lake)
        full_build_gold(spark, self.gold, spark.read.parquet(self.cust),
                        spark.read.parquet(self.lake), gen.AS_OF)

    def _drop(self, path: str) -> None:
        """The vendor's drop of one export into the inbox."""
        stage(f"{self.state}/staging", path,
              f"{self.inbox}/customer_master/{os.path.basename(path)}")

    def prepare(self, i: int) -> None:
        self._drop(self.inputs["days"][i]["customers"])

    def size(self, i: int) -> tuple[int, int]:
        day = self.inputs["days"][i]
        return (day["sales_rows"] + day["customer_rows"] + day["lead_rows"]
                + day["visitor_rows"], day["bytes"])

    def op(self, i: int) -> None:
        spark, t, day = self.spark, self.tracer, self.inputs["days"][i]
        tag = f"{i:03d}"
        self._validated = None
        held: list[DataFrame] = []
        with t.span("sources.inbox"):
            cust = read_latest_encrypted_inbox(
                spark, self.inbox, gen.CUSTOMER_CAST, xor_decryptor(gen.XOR_KEY))
            cust = materialize(t.observe(cust, {"sources.merge.rows_in": "rows"}))
            held.append(cust)
        with t.span("sources.merge"):
            merge_upsert(spark, self.cust, cust, keys=["custno"], order_by=["lastupdated"])
        with t.span("plans.etl"):
            self._typed = run_vehicle_sales_etl(spark, day["sales"], self.lake)
        t.add("plans.etl.rows_in", day["sales_rows"])
        cm = spark.read.parquet(self.cust)
        vs = spark.read.parquet(self.lake)
        with t.span("plans.views"):
            views = build_view_dag(cm, vs, gen.AS_OF)
            validated = materialize(views.pop("validated_vehicle_sales"))
            for df in views.values():
                noop_write(df)
        with t.span("streaming.activation"):
            events = emit_new_events(spark, validated, self.events_state,
                                     start_date=f"{day['date']} 00:00:00",
                                     end_date=f"{day['date']} 23:59:59")
            events = materialize(t.observe(
                events, {"streaming.activation.events_emitted": "rows"}))
            held.append(events)
        with t.span("sources.sinks"):
            write_jsonl_events(events, f"{self.out}/events/{tag}")
        with t.span("streaming.activation"):
            mark_processed(spark, events, self.events_state)
        leads = _leads(spark, day["leads"], t)
        held.append(leads)
        with t.span("sources.readers"):
            visitors = read_jsonl_typed(spark, day["visitors"], VISITOR_SCHEMA,
                                        keep_corrupt=False)
        with t.span("streaming.identity"):
            matched = resolve_identities_batch(visitors, leads)
            matched = t.observe(matched, {
                "streaming.identity.leads_in": "rows",
                "streaming.identity.leads_matched": F.sum(F.col("is_matched").cast("long")),
            })
            matched.write.mode("overwrite").parquet(f"{self.out}/identity/{tag}")
        self._changed = cust.select("custno").unionByName(
            self._typed.select("custno")).distinct()
        with t.span("plans.refresh"):
            try:
                self._buckets = refresh_gold(spark, self.gold, cm, vs, gen.AS_OF, self._changed)
                failed = False
            except RuntimeError:
                # refresh_gold's documented recovery: a full rebuild. The
                # op still counts as failed.
                t.add("plans.refresh.fallbacks", 1)
                full_build_gold(spark, self.gold, cm, vs, gen.AS_OF)
                self._buckets = None
                failed = True
        for df in held:
            df.unpersist()
        self._validated = validated
        if failed:
            raise RuntimeError(f"refresh_gold fell back to a full rebuild on day {i}")

    def verify_op(self, i: int) -> None:
        """Exactly-once activation: re-emitting the day's window after
        ``mark_processed`` yields nothing. Identity: exactly the leads the
        generator tied to a visitor are matched."""
        if self._validated is None:
            return
        day = self.inputs["days"][i]
        date = day["date"]
        again = emit_new_events(self.spark, self._validated, self.events_state,
                                start_date=f"{date} 00:00:00",
                                end_date=f"{date} 23:59:59").count()
        if again:
            self.problems.append(f"re-emit of day {date} yielded {again} events")
        self._validated.unpersist()
        matched = {r.lead_id for r in self.spark.read.parquet(
            f"{self.out}/identity/{i:03d}").filter("is_matched").select("lead_id").collect()}
        if matched != set(day["matched_leads"]):
            self.problems.append(f"day {date}: {len(matched)} leads matched, "
                                 f"{len(day['matched_leads'])} expected")

    def after_op(self, i: int) -> None:
        t, spark = self.tracer, self.spark
        t.flush_observations()
        t.add("plans.etl.rows_rejected",
              self.inputs["days"][i]["sales_rows"] - self._typed.count())
        if self._buckets:
            rewritten = read_gold(spark, self.gold, "customer_profiles").filter(
                key_bucket("custno").isin(self._buckets)).count()
            t.add("plans.refresh.rows_rewritten", rewritten)
            t.add("plans.refresh.changed_keys", self._changed.count())

    def check(self) -> list[str]:
        """The final gold tables against the reference SQL of the six views,
        run by DuckDB over the final lake (what a full build must give),
        and unique message ids."""
        import duckdb

        from tests.oracle_harness import compare
        from tests.reference_views_sql import ALL_VIEW_SQL

        spark, problems = self.spark, list(self.problems)
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW customer_master AS SELECT * FROM "
                        f"read_parquet('{self.cust}/*.parquet')")
            con.execute(f"CREATE VIEW vehicle_sales AS SELECT * FROM "
                        f"read_parquet('{self.lake}/**/*.parquet', hive_partitioning=true)")
            for sql in ALL_VIEW_SQL:
                con.execute(sql(gen.AS_OF))
            for name in sorted(os.listdir(self.gold)):
                # averages over decimal(18,2) money: Spark keeps 6 decimal
                # places, DuckDB returns a double
                got = compare(read_gold(spark, self.gold, name).toPandas(),
                              con.execute(f"SELECT * FROM {name}_o").fetchdf(), float_tol=1e-9)
                problems += [f"gold {name}: {p}" for p in got[:3]]
        finally:
            con.close()
        ids = [json.loads(r["value"])["messageId"]
               for r in spark.read.text(f"{self.out}/events").collect()]
        if len(ids) != len(set(ids)):
            problems.append(f"{len(ids) - len(set(ids))} duplicate message ids")
        return problems


# ----------------------------------------------------------- stream_ingest

def typed_sales(raw: DataFrame) -> DataFrame:
    """All-string DMS rows -> the lake's typed, partitioned layout."""
    typed = raw.select(*[F.col(c).cast(t).alias(c) for c, t in VEHICLE_SALES_CAST.items()])
    return typed.withColumn("sale_year", F.year("salesdate")).withColumn(
        "sale_month", F.month("salesdate"))


def _file_stream(spark: SparkSession, fmt: str, schema: str, path: str) -> DataFrame:
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
    if fmt == "csv":
        reader = reader.option("header", True)
    return reader.format(fmt).load(path)


class StreamIngest(Workload):
    """Incremental twins draining small deltas against large stored state.

    Each twin runs as one long-lived query reading one file per trigger
    (``maxFilesPerTrigger=1``); staging one delta file and draining the
    query (``processAllAvailable``) runs one micro-batch (the session turns
    off the extra batches a watermark advance would start). An operation is
    one round, in ``gen.TWINS`` order: a sales delta into
    ``streaming_upsert``; a document delta curated in batch (NFC, Gopher
    and quality gates, in-delta near-dup dedup, split) and drained by
    ``streaming_dedup_ingest`` against the stored band index; a vector
    delta checked for cell drift against the stored centroids and drained
    by ``streaming_semdedup_ingest``; a visitor delta and then a lead delta
    through ``streaming_session_match``, one micro-batch each.
    """

    name = "stream_ingest"

    def setup(self, state_dir: str) -> None:
        spark, inp = self.spark, self.inputs
        self.state = d = state_dir
        self.lake = f"{d}/lake/vehicle_sales"
        self.lake_at_setup = f"{d}/lake_at_setup"
        self.docs = f"{d}/corpus/docs"
        self.index = f"{d}/corpus/band_index"
        self.vecs = f"{d}/corpus/vectors"
        self.cents = f"{d}/corpus/centroids"
        self.src = {k: f"{d}/incoming/{k}" for k in ("sales", "docs", "vectors", "visitors", "leads")}
        self.staging = f"{d}/staging"
        for p in self.src.values():
            os.makedirs(p)
        self.rounds_done: list[dict] = []
        self.batch_s: dict[str, list[float]] = {k: [] for k in gen.TWINS}
        run_vehicle_sales_etl(spark, inp["sales_history"], self.lake)
        spark.read.parquet(inp["docs"]).write.parquet(self.docs)
        build_band_index(spark.read.parquet(self.docs), "doc_id", "text").write.parquet(self.index)
        vecs = spark.read.parquet(inp["vectors"])
        k = max(8, -(-vecs.count() // 128))
        seeds = vecs.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec"))
        kmeans_centroids(vecs, seeds, n_iter=1).write.parquet(self.cents)
        assign_to_stored_centroids(
            vecs, spark.read.parquet(self.cents), keep_cols=("embedding",)
        ).select("vec_id", "embedding", "centroid_id").write.parquet(self.vecs)
        self._start_queries()

    def _start_queries(self) -> None:
        spark, d, src = self.spark, self.state, self.src
        sales = typed_sales(_file_stream(
            spark, "csv", ", ".join(f"{c} string" for c in gen.SALES_COLUMNS), src["sales"]))
        docs = _file_stream(spark, "parquet", "doc_id long, text string", f"{src['docs']}/*/*.parquet")
        vecs = _file_stream(spark, "parquet", "vec_id long, embedding array<float>", src["vectors"])
        visitors = _file_stream(spark, "json", ", ".join(
            f"{k} {v}" for k, v in VISITOR_SCHEMA.items()), src["visitors"])
        leads = _file_stream(spark, "json", LEAD_STREAM_SCHEMA, src["leads"]).select(
            parsed_lead("xml").alias("l"), F.col("received_at").alias("lead_submitted_at")
        ).select("l.lead_id", "l.session_id", "lead_submitted_at")
        # one query per twin, in gen.TWINS order
        self.queries = [
            streaming_upsert(
                sales, self.lake, list(MERGE_KEYS), order_by=["rowlastupdatedutc"],
                partition_cols=["sale_year", "sale_month"], checkpoint=f"{d}/ck/upsert"),
            streaming_dedup_ingest(docs, self.docs, self.index, checkpoint=f"{d}/ck/dedup"),
            streaming_semdedup_ingest(
                vecs, self.vecs, self.cents, threshold=0.9, checkpoint=f"{d}/ck/semdedup"),
            streaming_session_match(visitors, leads)
            .writeStream.format("parquet").outputMode("append")
            .option("checkpointLocation", f"{d}/ck/match")
            .start(f"{d}/out/matches"),
        ]

    def teardown(self) -> None:
        for q in self.queries:
            q.stop()
        for q in self.queries:
            q.awaitTermination(60)

    def prepare(self, i: int) -> None:
        # the lake as setup left it, for the batch MERGE the check replays
        if not os.path.exists(self.lake_at_setup):
            shutil.copytree(self.lake, self.lake_at_setup)
        # each query's last batch that read data before the op; the op's
        # batches come after it (an idle query reports the next batch id)
        self._batch0 = [max((p.batchId for p in q.recentProgress if p.numInputRows > 0),
                            default=-1) for q in self.queries]

    def _drain(self, twin: int, layer: str) -> None:
        """Run one micro-batch: drain the twin's query of its one staged file."""
        q = self.queries[twin]
        t0 = time.perf_counter()
        with self.tracer.span(layer, gen.TWINS[twin]):
            q.processAllAvailable()
        self.batch_s[gen.TWINS[twin]].append(time.perf_counter() - t0)
        if q.exception() is not None:
            raise RuntimeError(f"{gen.TWINS[twin]} failed: {q.exception()}")

    def size(self, i: int) -> tuple[int, int]:
        r = self.inputs["rounds"][i]
        return r["rows"], r["bytes"]

    def op(self, i: int) -> None:
        spark, t = self.spark, self.tracer
        r, tag = self.inputs["rounds"][i], f"{i:03d}"

        stage(self.staging, r["sales"], f"{self.src['sales']}/{tag}.csv")
        self.rounds_done.append(r)
        self._drain(0, "streaming.upsert")

        with t.span("extensions.text_analysis"):
            raw = spark.read.parquet(r["docs"])
            self._curated = gopher_quality_rules(
                raw.select("doc_id", nfc_normalize_text("text").alias("text")),
                "doc_id", "text", min_words=20, min_stop_hits=1, keep_cols=("text",),
            ).filter("gopher_pass").withColumn(
                "q4", (quality_score(F.col("text")) * 4).cast("long")
            ).filter(F.col("q4") >= 3).select(F.col("id").alias("doc_id"), "text")
            gated = materialize(self._curated)
        with t.span("extensions.dedup_text"):
            kept = near_dup_dedup(gated, "doc_id", "text")
            kept = materialize(t.observe(kept, {"extensions.dedup_text.docs_kept": "rows"}))
            release_caches(kept)
        with t.span("extensions.sampling"):
            hash_split(kept, "doc_id", {"train": 0.9, "heldout": 0.1}).filter(
                F.col("split") == "train").select("doc_id", "text").coalesce(1).write.parquet(
                f"{self.staging}/docs-{tag}")
        os.replace(f"{self.staging}/docs-{tag}", f"{self.src['docs']}/{tag}")
        for df in (gated, kept):
            df.unpersist()
        self._drain(1, "streaming.dedup")

        with t.span("extensions.similarity"):
            batch = spark.read.parquet(r["vectors"])
            self._assigned = assign_to_stored_centroids(batch, spark.read.parquet(self.cents))
            centroid_assignment_drift(
                spark.read.parquet(self.vecs).select("centroid_id"), self._assigned).collect()
        stage(self.staging, r["vectors"], f"{self.src['vectors']}/{tag}.parquet")
        self._drain(2, "streaming.dedup")

        # one micro-batch per side: staged together, the two files would
        # land in one trigger or in two, at random
        stage(self.staging, r["visitors"], f"{self.src['visitors']}/{tag}.jsonl")
        self._drain(3, "streaming.identity")
        stage(self.staging, r["leads"], f"{self.src['leads']}/{tag}.jsonl")
        self._drain(3, "streaming.identity")

    def after_op(self, i: int) -> None:
        t, spark = self.tracer, self.spark
        t.flush_observations()
        cand = minhash_candidate_pairs(self._curated, "doc_id", "text").cache()
        t.add("extensions.dedup_text.candidate_pairs", cand.count())
        t.add("extensions.dedup_text.verified_pairs", ngram_jaccard_pairs(
            self._curated, "doc_id", "text", threshold=0.8, candidates=cand).count())
        cand.unpersist()
        stored = spark.read.parquet(self.vecs).groupBy("centroid_id").agg(
            F.count(F.lit(1)).alias("s"))
        new = self._assigned.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n"))
        scored = new.join(stored, "centroid_id", "left").select(
            (F.col("n") * F.coalesce(F.col("s"), F.lit(0))
             + F.col("n") * (F.col("n") - 1) / 2).alias("p")).agg(F.sum("p")).first()[0]
        t.add("extensions.similarity.pairs_scored", scored or 0)
        for layer, q, b0 in zip(("streaming.upsert", "streaming.dedup", "streaming.dedup",
                                 "streaming.identity"), self.queries, self._batch0):
            t.stream_progress(layer, q, b0)

    def record(self) -> dict:
        return {"micro_batch_s": self.batch_s}

    def check(self) -> list[str]:
        spark, problems = self.spark, list(self.problems)
        for name, q in zip(gen.TWINS, self.queries):
            if q.exception() is not None:
                problems.append(f"{name} stopped with {q.exception()}")
        raw = spark.read.option("header", True).schema(
            ", ".join(f"{c} string" for c in gen.SALES_COLUMNS)
        ).csv([r["sales"] for r in self.rounds_done])
        merge_upsert(spark, self.lake_at_setup, typed_sales(raw), list(MERGE_KEYS),
                     order_by=["rowlastupdatedutc"], partition_cols=["sale_year", "sale_month"])
        if differs(spark.read.parquet(self.lake), spark.read.parquet(self.lake_at_setup)):
            problems.append("streamed lake differs from a batch merge_upsert of the deltas")
        got = {(r.lead_id, r.visitor_id) for r in spark.read.parquet(
            f"{self.state}/out/matches").select("lead_id", "visitor_id").collect()}
        want = {tuple(m) for r in self.rounds_done for m in r["matches"]}
        if got != want:
            problems.append(f"session match gave {len(got)} pairs, {len(got & want)} of "
                            f"the {len(want)} expected")
        return problems


WORKLOADS = {w.name: w for w in (CdpDaily, StreamIngest)}
