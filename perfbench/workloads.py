"""The calls each workload makes into the engine, and how each is checked.

A workload is a list of :class:`Call`. One pass runs them in order; each
call's output (a DataFrame, or the value a writing call returns) is then
materialized. Calls pass state to later calls of the same pass through a
plain dict.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libpysal_spark.io import weights_io
from libpysal_spark.operators import distance
from libpysal_spark.operators.contiguity import queen
from libpysal_spark.operators.lattice import lattice_polygons
from libpysal_spark.operators.pip import pip_join
from libpysal_spark.operators.triangulation import gabriel
from libpysal_spark.plans import lineage
from libpysal_spark.text import dedup
from libpysal_spark.text.ann import cosine_threshold_pairs

from perfbench import checks
from perfbench.inputs import SIZES


#: the schema of every generated input file; reading with it spares Spark a
#: footer-inference job per file
SCHEMAS = {
    "points": "id BIGINT, x DOUBLE, y DOUBLE, val DOUBLE",
    "cells": "id BIGINT, gx BIGINT, gy BIGINT",
    "pip_points": "id BIGINT, x DOUBLE, y DOUBLE",
    "tri_points": "id BIGINT, x DOUBLE, y DOUBLE",
    "docs": "doc_id BIGINT, text STRING, cluster BIGINT",
    "vectors": "vec_id BIGINT, embedding ARRAY<DOUBLE>",
}


def _read(spark, d: str, name: str) -> DataFrame:
    return spark.read.schema(SCHEMAS[name]).parquet(os.path.join(d, f"{name}.parquet"))


@dataclass(frozen=True)
class Call:
    #: ``<module>.<function>`` of the engine's public function called
    name: str
    run: Callable[[dict], object]


# -- spatial_weights ----------------------------------------------------------


def _spatial(spark, d):
    sz = SIZES["spatial_weights"]
    pts = _read(spark, d, "points")
    y = pts.select("id", F.col("val").alias("y"))
    polys = lattice_polygons(spark, _read(spark, d, "cells"))
    pip_pts = _read(spark, d, "pip_points")
    w_path = os.path.join(d, "out", "weights")
    l_path = os.path.join(d, "out", "lineage")

    def band_call(st):
        st["band"] = distance.distance_band(pts, sz["band"])
        return st["band"].edges

    def knn_call(st):
        st["knn"] = distance.knn(pts, sz["k"])
        # the ring rounds run eagerly inside the call: the info is this call's
        st["knn_info"] = dict(distance.last_knn_info)
        return st["knn"].edges

    # the graph algebra runs on the kNN graph, whose degree the hot spots
    # do not inflate (the band graph holds ~1M edges, nearly all in spots)
    def lag_call(st):
        st["row_std"] = st["knn"].transform("R")
        return st["row_std"].lag(y)

    def queen_call(st):
        st["queen"] = queen(polys)
        return st["queen"].edges

    def lineage_call(st):
        keyed = st["queen"].edges.withColumn(
            "bucket", lineage.tile_bucket("focal", sz["lineage_buckets"])
        )
        return lineage.write_with_lineage(keyed, l_path, "bucket", mode="overwrite")

    return [
        Call("operators.distance.distance_band", band_call),
        Call("operators.distance.knn", knn_call),
        Call("graph.lag", lag_call),
        Call("graph.component_labels", lambda st: st["knn"].component_labels()),
        Call("io.weights_io.write_parquet",
             lambda st: weights_io.write_parquet(st["row_std"], w_path)),
        Call("io.weights_io.read_parquet",
             lambda st: weights_io.read_parquet(spark, w_path).edges),
        Call("operators.contiguity.queen", queen_call),
        Call("plans.lineage.write_with_lineage", lineage_call),
        Call("plans.lineage.verify", lambda st: lineage.verify(spark, l_path)),
        Call("operators.pip.pip_join", lambda st: pip_join(pip_pts, polys, sz["pip_cell"])),
    ]


# -- udf_text -----------------------------------------------------------------


def _udf_text(spark, d):
    sz = SIZES["udf_text"]
    tri = _read(spark, d, "tri_points")
    docs = _read(spark, d, "docs").select("doc_id", "text")
    vecs = _read(spark, d, "vectors")
    return [
        Call("operators.triangulation.gabriel", lambda st: gabriel(tri).edges),
        Call("text.dedup.exact_duplicates", lambda st: dedup.exact_duplicates(docs)),
        Call("text.dedup.minhash_candidates", lambda st: dedup.minhash_candidates(docs)),
        Call("text.ann.cosine_threshold_pairs",
             lambda st: cosine_threshold_pairs(vecs, sz["cosine"], blocks=sz["ann_blocks"])),
    ]


BUILDERS = {"spatial_weights": _spatial, "udf_text": _udf_text}

#: every call name any workload makes, in a stable order
ALL_CALLS = (
    "operators.distance.distance_band",
    "operators.distance.knn",
    "graph.lag",
    "graph.component_labels",
    "io.weights_io.write_parquet",
    "io.weights_io.read_parquet",
    "operators.contiguity.queen",
    "plans.lineage.write_with_lineage",
    "plans.lineage.verify",
    "operators.pip.pip_join",
    "operators.triangulation.gabriel",
    "text.dedup.exact_duplicates",
    "text.dedup.minhash_candidates",
    "text.ann.cosine_threshold_pairs",
)


def build(workload: str, spark, inputs_dir: str) -> list[Call]:
    """The workload's calls, in pass order."""
    return BUILDERS[workload](spark, inputs_dir)


def sink(value) -> None:
    """Materialize a call's full output without letting Catalyst prune it."""
    if isinstance(value, DataFrame):
        value.write.format("noop").mode("overwrite").save()


def collect(value):
    """A call's output on the driver: DataFrames as pandas, others as is."""
    if isinstance(value, DataFrame):
        return value.toPandas()
    return value


# -- checking -----------------------------------------------------------------


def check(workload: str, outputs: dict, exp: dict) -> dict:
    """call name -> list of problems with that call's collected output.

    A call that raised has no output and is already counted as failed."""
    probs: dict[str, list[str]] = {}
    done = {name for name, value in outputs.items() if value is not None}

    def want(*names):
        return all(n in done for n in names)

    if workload == "spatial_weights":
        for name in ("operators.distance.distance_band", "operators.distance.knn",
                     "io.weights_io.read_parquet", "operators.contiguity.queen"):
            if want(name):
                probs[name] = checks.edges(outputs[name], exp[name])
        if want("graph.lag"):
            lag = outputs["graph.lag"]
            probs["graph.lag"] = checks.mapping(
                dict(zip(lag["id"].tolist(), lag["lag"].tolist())), exp["graph.lag"],
                tol=1e-9,
            )
        if want("graph.component_labels"):
            comp = outputs["graph.component_labels"]
            probs["graph.component_labels"] = checks.mapping(
                dict(zip(comp["id"].tolist(), comp["component"].tolist())),
                exp["graph.component_labels"],
            )
        if want("plans.lineage.write_with_lineage"):
            manifest = outputs["plans.lineage.write_with_lineage"]
            rows = sum(p["rows"] for p in manifest["partitions"].values())
            n = exp["plans.lineage.write_with_lineage"]
            probs["plans.lineage.write_with_lineage"] = (
                [] if rows == n else [f"manifest holds {rows} rows, expected {n}"]
            )
        if want("plans.lineage.verify"):
            status = outputs["plans.lineage.verify"]
            bad = {k: v for k, v in status.items() if v != "ok"}
            probs["plans.lineage.verify"] = (
                [f"partitions not ok: {bad}"] if bad or not status else []
            )
        if want("operators.pip.pip_join"):
            pid, poly = exp["operators.pip.pip_join"]
            probs["operators.pip.pip_join"] = checks.pairs(
                outputs["operators.pip.pip_join"], set(zip(pid.tolist(), poly.tolist())),
                "point_id", "polygon_id",
            )
    elif workload == "udf_text":
        if want("operators.triangulation.gabriel"):
            probs["operators.triangulation.gabriel"] = checks.edges(
                outputs["operators.triangulation.gabriel"],
                exp["operators.triangulation.gabriel"],
            )
        if want("text.dedup.exact_duplicates"):
            probs["text.dedup.exact_duplicates"] = checks.exact_duplicates(
                outputs["text.dedup.exact_duplicates"], exp["text.dedup.exact_duplicates"]
            )
        if want("text.dedup.minhash_candidates"):
            probs["text.dedup.minhash_candidates"] = checks.pairs(
                outputs["text.dedup.minhash_candidates"],
                exp["text.dedup.minhash_candidates"],
            )
        if want("text.ann.cosine_threshold_pairs"):
            probs["text.ann.cosine_threshold_pairs"] = checks.cosine_pairs(
                outputs["text.ann.cosine_threshold_pairs"],
                exp["text.ann.cosine_threshold_pairs"],
                SIZES["udf_text"]["cosine"],
            )
    return probs
