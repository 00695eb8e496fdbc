"""Graph-typed value helpers over path columns (SURVEY.md §2.9
"Graph-specific"): the reference's ``Path::toString`` rendering and
the cosine similarity the pipeline ranks vectors with.

Spark model (SURVEY.md §1.1): a vertex value is a struct (vid, tag props…),
an edge value is a struct (src, dst, rank, props…), a path is an array of
edge structs. The executor compiles the reference's accessor functions
(id/src/dst/rank/reversePath/hasSameEdgeInPath/…, ``FunctionManager.cpp``)
to getField expressions itself — codegen-friendly, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def format_path(p: Column, with_prop: bool = False) -> Column:
    """Textual rendering of a PATH value struct — the reference's
    ``Path::toString`` shape as the TCK features print it
    (``tests/tck/features/path/ShortestPath.feature``):

    ``<("start")-[:type]->("next")<-[:type2]-("end")>``

    ``p`` is the FIND PATH YIELD value convention: struct(start,
    path: array<(s,d,r,t,et[,props])>[, vprops: array<string>]).
    A reverse-traversed step (t == -1) renders ``<-[:type]-``; a non-zero
    rank appends ``@rank``. With ``with_prop`` (WITH PROP), edges render
    ``-[:type@rank {k: v}]->`` from their pre-rendered ``props`` map and
    vertices append their pre-rendered tag suffix from ``vprops``
    (" :tag{k: v}" pieces, aligned start-first with the node sequence).

    Pure Column expressions (transform/aggregate over the path array) —
    stays in codegen, no UDF.
    """
    path = p["path"]

    def edge_txt(x):
        if with_prop:
            body = F.concat(
                F.lit(":"), x["et"], F.lit("@"), x["r"].cast("string"),
                F.lit(" {"),
                F.array_join(F.transform(
                    F.array_sort(F.map_entries(x["props"])),
                    lambda kv: F.concat(kv["key"], F.lit(": "),
                                        kv["value"])), ", "),
                F.lit("}"))
        else:
            body = F.concat(
                F.lit(":"), x["et"],
                F.when(x["r"] != 0, F.concat(F.lit("@"),
                                             x["r"].cast("string")))
                .otherwise(F.lit("")))
        return (F.when(x["t"] >= 0,
                       F.concat(F.lit("-["), body, F.lit("]->")))
                .otherwise(F.concat(F.lit("<-["), body, F.lit("]-"))))

    def vertex_txt(vid, idx=None):
        # vprops is aligned with the node sequence (start first); F.get is
        # the 0-based element accessor that takes a Column index
        sfx = (F.coalesce(F.get(p["vprops"], idx), F.lit(""))
               if with_prop and idx is not None else F.lit(""))
        return F.concat(F.lit('("'), vid.cast("string"), F.lit('"'),
                        sfx, F.lit(")"))

    steps = F.array_join(
        F.transform(path, lambda x, i: F.concat(
            edge_txt(x), vertex_txt(x["d"], i + 1))), "")
    return F.concat(F.lit("<"), vertex_txt(p["start"], F.lit(0)),
                    steps, F.lit(">"))


def cos_similarity(a: Column, b: Column) -> Column:
    """cos_similarity(list, list) — FunctionManager container fn.

    JVM-side: zip_with product + aggregate sums; no UDF, vectorizes under
    codegen, and is the primitive the ANN operators build on.
    """
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)
