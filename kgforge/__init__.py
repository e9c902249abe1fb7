"""kgforge — a PySpark-native knowledge-graph construction engine.

Re-expresses the pipeline semantics of guillaume-be/rust-bert (reference at
/root/reference, studied for behavior only) as Spark DataFrame plans plus
vectorized pandas/Arrow UDFs:

  stage 1  HTML -> text extraction  (byte-identical per url)      kgforge.extract
  stage 2  batched token-classification NER                       kgforge.ner
  stage 3  zero-shot (subj, pred, obj) triple scoring             kgforge.triples
  stage 4  entity linking (broadcast alias join + ANN rerank)     kgforge.link
  stage 5  connected-component canonicalization + materialize     kgforge.canon

All pipeline math (sliding-window featurization, softmax/argmax decoding,
sub-token consolidation, BIOES chunking, NLI entailment scoring, masked mean
pooling) lives in pure, numpy-vectorized functions that are unit-tested
locally and invoked inside `mapInPandas` / iterator `pandas_udf` stages — one
model instance per Python worker, no per-row Python.
"""

__version__ = "0.1.0"

import os as _os
import sys as _sys
import zipimport as _zipimport

# archive path -> ((st_mtime_ns, st_size, st_ino) taken just before the
# archive's last directory read, that directory). Process-wide, like
# zipimport's own _zip_directory_cache that it shadows.
_ZIP_READS: dict[str, tuple[tuple[int, int, int], dict]] = {}
_reread_zip_directory = _zipimport.zipimporter.invalidate_caches


def _invalidate_zip_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's central
    directory only when the archive's (mtime_ns, size, inode) differ from
    its last read; otherwise it hands back that read's directory. A
    rewritten archive is still re-read, so imports see what they always
    saw."""
    try:
        st = _os.stat(self.archive)
    except OSError:
        _reread_zip_directory(self)   # gone: zipimport forgets it
        return
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    last = _ZIP_READS.get(self.archive)
    if last is not None and last[0] == stamp:
        self._files = _zipimport._zip_directory_cache[self.archive] = last[1]
        return
    _reread_zip_directory(self)
    if _zipimport._zip_directory_cache.get(self.archive) is self._files:
        _ZIP_READS[self.archive] = (stamp, self._files)


def _gate_zip_rescans() -> bool:
    """Install ``_invalidate_zip_caches`` in a PySpark Python worker.

    Before every task the worker calls ``importlib.invalidate_caches()``
    (worker_util.setup_spark_files). On CPython <= 3.12 that makes each of
    the worker's zipimporters re-read its whole archive directory: with
    Spark 4.1 that is 12 over pyspark.zip (1,328 entries), 2 over the
    spark-core jar (5,359) and 2 over the py4j zip, ~27k entries and
    ~0.15 s before every task reads a row. Not installed on the driver,
    which never runs that loop, nor on CPython >= 3.13, whose zipimporter
    only drops its cache entry and re-reads lazily. -> whether the gate
    is installed."""
    files = _sys.modules.get("pyspark.core.files")
    if (_sys.version_info >= (3, 13) or files is None
            or not files.SparkFiles._is_running_on_worker):
        return False
    _zipimport.zipimporter.invalidate_caches = _invalidate_zip_caches
    return True


_gate_zip_rescans()
