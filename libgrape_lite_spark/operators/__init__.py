from libgrape_lite_spark.operators.wcc import wcc
from libgrape_lite_spark.operators.pagerank import pagerank, pagerank_local
from libgrape_lite_spark.operators.bfs import bfs
from libgrape_lite_spark.operators.sssp import sssp
from libgrape_lite_spark.operators.cdlp import cdlp
from libgrape_lite_spark.operators.lcc import lcc

__all__ = [
    "wcc",
    "pagerank",
    "pagerank_local",
    "bfs",
    "sssp",
    "cdlp",
    "lcc",
]
