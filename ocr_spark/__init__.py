"""ocr_spark — a PySpark-native extraction engine.

A from-scratch re-expression of the semantics of the reference OCR
pipeline (wwzzhh063/ocr, read-only at /root/reference) as an idiomatic
Spark DataFrame job over Iceberg-style tables of interleaved
text + media documents:

    (doc_id: string,
     spans: array<struct<kind:string, text:string,
                         media_ref:string, offset:int>>)

Media spans run through a deterministic OCR chain (anchor-based
detection scoring -> text-line construction + NMS -> layout pairing ->
CTC decode -> arithmetic verdict + routing); text spans run through
boilerplate stripping (character normalization, double-'=' repair,
CJK boilerplate drop). Each document emits its extracted span sequence
(kind, text, media_ref, order).

Architecture: one relational shell visible to Catalyst (scan ->
salted/skew-split repartition -> mapInArrow -> window/write) plus a
small set of numpy kernels behind vectorized Arrow UDFs. No RDDs, no
per-row Python UDFs, no custom Catalyst rules.
"""

__version__ = "0.1.0"

from ocr_spark import blaskernel as _blaskernel
from ocr_spark import zipcache as _zipcache

# before numpy first loads, here and (through the inherited environment)
# in the JVM and Python workers a session starts: OpenBLAS's AVX-512 or
# AVX2 kernels, not the SSE3 fallback of a CPU model it does not know
# (see ocr_spark/blaskernel.py)
_blaskernel.select()

# every Python worker imports this package when it unpickles an engine
# UDF: from then on its per-task importlib.invalidate_caches() stops
# re-reading pyspark.zip (see ocr_spark/zipcache.py)
_zipcache.install()
