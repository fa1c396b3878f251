"""gdelta_spark — a PySpark-native per-column lightweight-compression engine.

Encodes token-sequence partitions (doc_id, tokens: array<int32>, n_tok,
source) with auto-selected lightweight codecs (dictionary, RLE,
frame-of-reference + bit-packing, FSST) plus a gdelta-style byte delta codec
that is blob-compatible with the reference C++ implementation
(apple-ouyang/gdelta). All kernels are vectorized numpy running inside
Arrow-fed pandas UDFs — no per-row Python on the hot path.
"""

import functools
import os
import zipimport

__version__ = "0.1.0"


def _gate_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's directory
    only when the archive changed since that importer last read it.

    A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
    every task. Its ``sys.path`` holds ``pyspark.zip``, the py4j zip and the
    spark-core jar, and on Python 3.11 each of the ~14 zipimporters over them
    (one per archive and package prefix) then re-parses its archive's whole
    central directory: 0.14-0.33 s per task on a 4-core box, more than many
    tasks' work. Every kernel's unpickle imports this package, so the gate
    is in place in a worker from its first task on. The archive's (mtime_ns, size) stamp is
    kept on the importer; a stamp that changed, a first call, or a failed
    stat falls through to the original re-read."""
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stamp_gated", False):
        return  # already wrapped (re-import of this package)

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        stamp = (st.st_mtime_ns, st.st_size)
        if getattr(self, "_read_stamp", None) != stamp:
            reread(self)
            self._read_stamp = stamp

    invalidate_caches.stamp_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_gate_zip_rereads()
