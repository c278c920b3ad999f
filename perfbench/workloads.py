"""The benchmark workloads: what one op is, and the untimed output checks.

Each workload is a closed loop with one client and one op in flight.  An
op that raises, or whose output check reports a problem, counts as failed.
``check`` returns its stats together with the list of problems it found,
so a failed op's figures (``recall`` among them) are still recorded.
"""

from __future__ import annotations

import hashlib
import json
import re
import shutil
from pathlib import Path

from pyspark.sql import functions as F

from perfbench import inputs


def _dir_mb(path: Path) -> float:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / (1 << 20)


class CutJobDocs:
    """One-shot CLI cut: ``cut_job.run`` with ``--format docs`` to parquet.

    Every op pays the poly read, cover build and selector build, runs a
    non-complete cut with an exclude ring, writes the per-document output
    and re-reads its count.  The output dir is deleted untimed.
    """

    name = "cut_job_docs"
    DOCS = inputs.CUT_DOCS

    def __init__(self, input_dir: Path, work: Path, seed: int, n_docs: int):
        self.input_dir, self.work, self.seed = input_dir, work, seed
        self.n_docs = n_docs
        self.input_rows = n_docs * inputs.ELEMENTS_PER_DOC
        self._ops = 0
        self._expected: set[int] | None = None

    def generate(self) -> None:
        self.docs_path = inputs.cut_docs(self.input_dir, self.seed, self.n_docs)
        self.poly_path = inputs.cut_poly(self.input_dir)

    def setup(self, spark) -> None:
        self.spark = spark  # the one-shot path builds everything else per op

    def op(self, tracer=None) -> dict:
        from osm_cut_spark import cut_job

        out = self.work / f"cut_out_{self._ops}"
        self._ops += 1
        shutil.rmtree(out, ignore_errors=True)
        args = cut_job.build_arg_parser().parse_args(
            ["--docs", str(self.docs_path), "--poly", str(self.poly_path),
             "--out", str(out), "--format", "docs"]
        )
        summary = cut_job.run(args, self.spark)
        return {"out": out, "n_out": summary["n_out"]}

    def check(self, res: dict) -> dict:
        """(a) node ids equal the numpy oracle, (b) fingerprint, (c) every
        output document has contiguous span offsets 0..n-1."""
        out = self.spark.read.parquet(str(res["out"]))
        nodes = (
            out.select(F.explode("spans").alias("s"))
            .filter(F.col("s.kind") == "node")
            .select(F.get_json_object("s.text", "$.id").cast("long").alias("id"))
        )
        got = set(nodes.toPandas()["id"].tolist())
        expected = self._oracle_ids()
        gaps = out.filter(
            F.expr("size(spans) > 0 AND "
                   "transform(spans, s -> s.offset) != sequence(0, size(spans) - 1)")
        ).count()
        fp = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("doc_id", "spans"), F.lit(2**31 - 1))).alias("h"),
        ).first()
        stats = {
            "fingerprint": [fp["n"], fp["h"]],
            "recall": len(got & expected) / len(expected),
            "output_rows": fp["n"],
            "sink_mb": _dir_mb(res["out"]),
            "problems": [],
        }
        if res["n_out"] != fp["n"]:
            stats["problems"].append(f"n_out {res['n_out']} != {fp['n']} rows read back")
        if got != expected:
            stats["problems"].append(f"node ids differ from the oracle: {len(got - expected)} "
                                     f"extra, {len(expected - got)} missing")
        if gaps:
            stats["problems"].append(f"{gaps} output documents with non-contiguous span offsets")
        return stats

    def layer_counts(self, stats: dict) -> dict:
        return {"extract.output.rows": stats["output_rows"], "sources.sink_mb": stats["sink_mb"]}

    def cleanup(self, res: dict) -> None:
        shutil.rmtree(res["out"], ignore_errors=True)

    def _oracle_ids(self) -> set[int]:
        """Ids of input nodes inside the polygon: lon/lat read from the raw
        spans with ``get_json_object`` and tested on the driver with the
        numpy ``PreparedPolygon.contains`` kernel."""
        if self._expected is None:
            from osm_cut_spark.functions.geometry import prepare_polygon

            poly = prepare_polygon(inputs.CUT_RINGS)
            pdf = (
                self.spark.read.parquet(str(self.docs_path))
                .select(F.explode("spans").alias("s"))
                .filter(F.col("s.kind") == "node")
                .select(
                    F.get_json_object("s.text", "$.id").cast("long").alias("id"),
                    F.get_json_object("s.text", "$.lon").cast("double").alias("lon"),
                    F.get_json_object("s.text", "$.lat").cast("double").alias("lat"),
                )
                .toPandas()
            )
            inside = poly.contains(pdf["lon"].to_numpy(), pdf["lat"].to_numpy())
            self._expected = set(pdf["id"].to_numpy()[inside].tolist())
        return self._expected


def _shingles(text: str, n: int = 3) -> set[str]:
    """Python twin of the engine's tokenizer: lower, whitespace split,
    word n-grams (one shingle of all tokens when shorter than n)."""
    toks = [t for t in re.split(r"\s+", text.lower()) if t]
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


class DedupText:
    """MinHash-LSH near-duplicate pairs, then the contamination join on a
    ``doc_id % 7`` split, each written to the noop sink.

    The sinks observe (count, pair list) at the top of each plan, so the
    checks read the timed op's own output instead of recomputing it.
    """

    name = "dedup_text"
    DOCS = inputs.DEDUP_DOCS
    N_PERM, BANDS, THRESHOLD = 32, 8, 0.5

    def __init__(self, input_dir: Path, work: Path, seed: int, n_docs: int):
        self.input_dir, self.seed = input_dir, seed
        self.n_docs = n_docs
        self.input_rows = n_docs
        self._texts: dict[int, str] = {}
        self.metrics: dict | None = None

    def generate(self) -> None:
        self.docs_path = inputs.dedup_docs(self.input_dir, self.seed, self.n_docs)

    def setup(self, spark) -> None:
        self.spark = spark
        self.docs = self.spark.read.parquet(str(self.docs_path))
        planted = [(b - 1, b) for b in range(1, self.n_docs) if inputs.planted_pair(b)]
        self.planted = set(planted)
        # contamination: A = doc_id % 7 != 0, B = doc_id % 7 == 0
        self.planted_cross = {
            (a, b) if b % 7 == 0 else (b, a)
            for a, b in planted if (a % 7 == 0) != (b % 7 == 0)
        }

    def op(self, tracer=None) -> dict:
        from osm_cut_spark.operators.dedup import minhash_lsh_join, minhash_lsh_pairs

        # the operators' lazy dropped-bucket frames of the last traced op
        metrics = {"pairs": {}, "join": {}} if tracer is not None else {}
        if metrics:
            self.metrics = metrics
        pairs = minhash_lsh_pairs(
            self.docs, n_perm=self.N_PERM, bands=self.BANDS,
            jaccard_threshold=self.THRESHOLD, metrics=metrics.get("pairs"),
        )
        res = {"pairs": self._sink(pairs, "dedup.pairs", tracer)}
        d = F.col("doc_id")
        joined = minhash_lsh_join(
            self.docs.filter(d % 7 != 0), self.docs.filter(d % 7 == 0),
            n_perm=self.N_PERM, bands=self.BANDS, jaccard_threshold=self.THRESHOLD,
            metrics=metrics.get("join"),
        )
        res["join"] = self._sink(joined, "dedup.join", tracer)
        return res

    def _sink(self, df, span: str, tracer):
        from pyspark.sql import Observation

        obs = Observation(span)
        observed = df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.to_json(F.collect_list(F.array("id_a", "id_b", "i_size", "u_size"))).alias("rows"),
        )
        if tracer is not None:
            tracer.default_span(span)
        try:
            observed.write.format("noop").mode("overwrite").save()
        finally:
            if tracer is not None:
                tracer.default_span(None)
        return obs

    def check(self, res: dict) -> dict:
        """(b) fingerprint and (d) every pair's exact shingle Jaccard,
        recomputed in Python, is at or above the threshold."""
        from osm_cut_spark.session import observed_metrics

        stats: dict = {"fingerprint": [], "problems": []}
        found = {}
        for part in ("pairs", "join"):
            m = observed_metrics(res[part], "n", "rows")
            rows = [tuple(r) for r in json.loads(m["rows"])]
            if len(rows) != m["n"]:
                stats["problems"].append(f"{part}: observed {len(rows)} of {m['n']} rows")
            stats["problems"] += self._verify_jaccard(part, rows)
            keys = sorted((a, b) for a, b, _i, _u in rows)
            stats["fingerprint"].append(
                [len(keys), hashlib.sha256(json.dumps(keys).encode()).hexdigest()[:16]]
            )
            stats[f"{part}_rows"] = len(keys)
            found[part] = set(keys)
        hits = len(found["pairs"] & self.planted) + len(found["join"] & self.planted_cross)
        stats["recall"] = hits / (len(self.planted) + len(self.planted_cross))
        return stats

    def _verify_jaccard(self, part: str, rows: list[tuple]) -> list[str]:
        problems = []
        need = {i for a, b, _i, _u in rows for i in (a, b)} - self._texts.keys()
        if need:
            ids = self.spark.createDataFrame([(int(i),) for i in sorted(need)], "doc_id long")
            for r in self.docs.join(ids, "doc_id").collect():
                self._texts[r["doc_id"]] = r["text"]
        for a, b, i_size, u_size in rows:
            sa, sb = _shingles(self._texts[a]), _shingles(self._texts[b])
            inter, union = len(sa & sb), len(sa | sb)
            if (inter, union) != (i_size, u_size):
                problems.append(f"{part} ({a},{b}): engine {i_size}/{u_size}, "
                                f"python {inter}/{union}")
            if inter < self.THRESHOLD * union:
                problems.append(f"{part} ({a},{b}): jaccard {inter}/{union} below {self.THRESHOLD}")
        return problems

    def layer_counts(self, stats: dict) -> dict:
        """Row counts of the last op, and the over-cap buckets of the last
        traced op (reading them costs one extra job per operator)."""
        dropped = sum(int(m["dropped_buckets"].first()[0]) for m in self.metrics.values())
        return {"dedup.pairs.rows": stats["pairs_rows"], "dedup.join.rows": stats["join_rows"],
                "dedup.dropped_buckets": dropped}

    def cleanup(self, res: dict) -> None:
        pass


WORKLOADS = {w.name: w for w in (CutJobDocs, DedupText)}
