"""The two workloads and one pass of each.

``relational_queries`` runs a fixed mix of registry builders
(``plans.queries.QUERIES``) over a generated catalog, each query built
and then executed through the noop sink. The seed permutes the order
of the mix in every pass. The list is trimmed so that one pass takes a
few seconds on 4 cores (see README.md).

``reference_pipeline`` runs the paper's DAG as one program over raw
inputs generated from the seed: mesh → pubtator → pubmed →
merge_filter → classify → finalize, each staged to parquet, then the
TSV release and its provenance.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

from spans import Tracer

RELATIONAL = [
    "pricing_summary",
    "shipping_priority_topk",
    "window_order_stats",
    "lineitem_price_percentiles",
]
WORKLOADS = ("relational_queries", "reference_pipeline")

RELEASE_DATE = "2026-01-01"


@dataclass
class PassResult:
    seconds: float
    traced: bool
    # (operation, seconds) in run order: a query's build+exec, or a
    # pipeline step
    op_s: list[tuple[str, float]] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    attempted: int = 0
    llm: dict[str, float] = field(default_factory=dict)
    pass_id: str = ""
    cpu_s: float = 0.0


class QueryMix:
    def __init__(self, spark, tracer: Tracer, names: list[str], data_dir: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.names = names
        self.data_dir = data_dir
        self.rng = random.Random(seed)

    def run_pass(self, collect: bool = False) -> tuple[PassResult, dict[str, tuple]]:
        """One pass over the mix in a seeded order. With ``collect``
        the results come back to the driver through Arrow (for the
        correctness check) instead of going to the noop sink."""
        from aurora_mito_etl_spark.plans.queries import QUERIES

        order = list(self.names)
        self.rng.shuffle(order)
        res = PassResult(0.0, self.tracer.enabled)
        results: dict[str, tuple] = {}
        t_pass = time.perf_counter()
        with self.tracer.span("bench.pass"):
            for name in order:
                res.attempted += 1
                t0 = time.perf_counter()
                try:
                    with self.tracer.span("plans.build", name):
                        df = QUERIES[name](self.spark, self.data_dir)
                    with self.tracer.span("plans.exec", name):
                        if collect:
                            table = df.toArrow()
                            rows = zip(*(c.to_pylist() for c in table.columns))
                            results[name] = (df.columns, list(rows))
                        else:
                            df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001 — counted as a failed operation
                    res.failures.append(f"{name}: {type(e).__name__}: {e}")
                    continue
                res.op_s.append((name, time.perf_counter() - t0))
        res.seconds = time.perf_counter() - t_pass
        return res, results


class ReferencePipeline:
    def __init__(self, spark, tracer: Tracer, raw_dir: str, out_dir: str):
        from llm_service import SimulatedService

        self.spark = spark
        self.tracer = tracer
        self.raw = raw_dir
        self.out = out_dir
        self.service = SimulatedService(spark.sparkContext)
        self.paths = {
            name: os.path.join(out_dir, "stage", name)
            for name in (
                "mesh_bioactive", "mesh_tags", "pubtator_pmids", "pubmed",
                "merge_filter", "pubmed_gpt", "processed_new", "processed_all",
            )
        }
        release = os.path.join(out_dir, "release")
        self.paths["release_base"] = release
        self.paths["release_new"] = os.path.join(release, f"date={RELEASE_DATE}", "new_inhibitors.tsv")
        self.paths["release_all"] = os.path.join(release, f"date={RELEASE_DATE}", "all_inhibitors.tsv")
        self.paths["provenance"] = os.path.join(release, "release_info.jsonl")

    def _refs(self):
        import json

        from aurora_mito_etl_spark.pipeline.finalize import ReferenceData
        from pipeline_gen import BIGUANIDE_REFS, BLACKLIST_RAW, KNOWN_INHIBITORS, PANEL_SMILES, TYPO_PAIRS

        with open(os.path.join(self.raw, "smiles.json"), encoding="utf-8") as f:
            smiles = json.load(f)
        return ReferenceData(
            known_inhibitors=KNOWN_INHIBITORS,
            blacklist_raw=BLACKLIST_RAW,
            typo_pairs=TYPO_PAIRS,
            smiles_db=smiles,
            panel_smiles=PANEL_SMILES,
            biguanide_refs=BIGUANIDE_REFS,
        )

    def _write(self, df, name: str) -> None:
        from aurora_mito_etl_spark.sources.sinks import write_parquet_stage

        with self.tracer.span("sources.sinks.write_parquet_stage", name):
            write_parquet_stage(df, self.paths[name])

    def run_pass(self) -> PassResult:
        from aurora_mito_etl_spark.operators import chem, llm, rest
        from aurora_mito_etl_spark.pipeline import finalize, merge_filter, mesh, pubmed, pubtator
        from aurora_mito_etl_spark.sources import sinks
        from pipeline_gen import KNOWN_INHIBITORS, YEAR_MIN

        spark, span, p = self.spark, self.tracer.span, self.paths
        read = spark.read.parquet
        shutil.rmtree(p["release_base"], ignore_errors=True)
        before = self.service.snapshot()
        res = PassResult(0.0, self.tracer.enabled)
        steps = [
            ("mesh", "pipeline.mesh"),
            ("pubtator", "pipeline.pubtator"),
            ("pubmed", "pipeline.pubmed"),
            ("merge_filter", "pipeline.merge_filter"),
            ("classify", "operators.llm.classify"),
            ("finalize", "pipeline.finalize"),
            ("release", "sources.sinks.release"),
            ("provenance", "sources.sinks.provenance"),
        ]
        t_pass = time.perf_counter()
        with span("bench.pass"):
            for step, span_name in steps:
                res.attempted += 1
                t0 = time.perf_counter()
                try:
                    with span(span_name, step):
                        if step == "mesh":
                            bio, tags = mesh.process_mesh(
                                spark,
                                os.path.join(self.raw, "mesh", "desc.xml"),
                                os.path.join(self.raw, "mesh", "supp.xml"),
                            )
                            self._write(bio, "mesh_bioactive")
                            self._write(tags, "mesh_tags")
                        elif step == "pubtator":
                            pmids = pubtator.process_pubtator(
                                spark, os.path.join(self.raw, "pubtator.tsv.gz"), read(p["mesh_tags"])
                            )
                            self._write(pmids, "pubtator_pmids")
                        elif step == "pubmed":
                            abstracts = pubmed.process_pubmed(
                                spark, os.path.join(self.raw, "pubmed"), year_min=YEAR_MIN
                            )
                            self._write(abstracts, "pubmed")
                        elif step == "merge_filter":
                            kept = merge_filter.merge_and_filter(
                                read(p["pubmed"]),
                                inhibitor_names=[k.lower() for k in KNOWN_INHIBITORS],
                                pubtator_pmids=read(p["pubtator_pmids"]),
                            )
                            self._write(kept, "merge_filter")
                        elif step == "classify":
                            classified = llm.classify_documents(
                                read(p["merge_filter"]), self.service, config=self.service.config()
                            )
                            self._write(classified, "pubmed_gpt")
                        elif step == "finalize":
                            new_rows, all_rows = finalize.build_release(
                                read(p["pubmed_gpt"]),
                                self._refs(),
                                spark,
                                fetcher_factory=rest.stub_fetcher_factory({}),
                                backend_factory=chem.default_backend,
                            )
                            self._write(new_rows, "processed_new")
                            self._write(all_rows, "processed_all")
                        elif step == "release":
                            for src, name in (("processed_new", "new_inhibitors.tsv"),
                                              ("processed_all", "all_inhibitors.tsv")):
                                sinks.overwrite_release(read(p[src]), p["release_base"], name, RELEASE_DATE)
                        else:
                            for path, tag in ((p["release_new"], "finalize:new"),
                                              (p["release_all"], "finalize:all")):
                                sinks.write_provenance(
                                    p["provenance"], path, tag,
                                    sources=["pubmed", "mesh", "pubtator"], date=RELEASE_DATE,
                                )
                except Exception as e:  # noqa: BLE001 — counted as a failed operation
                    res.failures.append(f"{step}: {type(e).__name__}: {e}")
                    break
                res.op_s.append((step, time.perf_counter() - t0))
        res.seconds = time.perf_counter() - t_pass
        after = self.service.snapshot()
        res.llm = {k: after[k] - before[k] for k in after}
        return res

    def rows_out(self) -> dict[str, int]:
        """Rows each stage wrote, from the parquet footers."""
        from verify import parquet_rows

        p = self.paths
        return {
            "mesh": parquet_rows(p["mesh_bioactive"]),
            "pubtator": parquet_rows(p["pubtator_pmids"]),
            "pubmed": parquet_rows(p["pubmed"]),
            "merge_filter": parquet_rows(p["merge_filter"]),
            "classify": parquet_rows(p["pubmed_gpt"]),
            "finalize": parquet_rows(p["processed_all"]),
        }

    def bytes_written(self) -> int:
        total = 0
        for root, _dirs, files in os.walk(self.out):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total
