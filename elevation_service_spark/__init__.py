"""spark-elevation: PySpark-native batch elevation-enrichment engine.

Capabilities of perliedman/elevation-service, rebuilt Spark-first.
See SURVEY.md for the blueprint and reference-parity citations.
"""

import sys

__version__ = "0.1.0"


def _gate_zip_reloads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its (size, mtime) changed — the freshness rule tile listings use too.

    PySpark's worker calls ``importlib.invalidate_caches()`` on every task
    (``worker_util.setup_spark_files``).  Before CPython 3.12 that makes
    every cached zipimporter re-parse its archive's whole directory in
    pure Python: pyspark.zip, the py4j zip and the Spark core jar, once
    per imported pyspark subpackage — 16 reads and 120-230 ms per task on
    a 4-vCPU host, more than the lookup kernel costs a 65k-row batch.
    3.12+ reloads lazily, so there nothing is patched.  Archives cached
    before the gate is installed are recorded as they stand, so a reused
    worker re-reads none after its first task; a rewritten ``--py-files``
    zip is still re-read."""
    import os
    import zipimport
    if sys.version_info >= (3, 12):
        return
    reload = zipimport.zipimporter.invalidate_caches
    cache = zipimport._zip_directory_cache
    seen: dict[str, tuple[int, int] | None] = {}

    def signature(path: str) -> tuple[int, int] | None:
        try:
            st = os.stat(path)
        except OSError:
            return None
        return st.st_size, st.st_mtime_ns

    def invalidate_caches(self) -> None:
        sig = signature(self.archive)
        if sig is not None and seen.get(self.archive) == sig and self.archive in cache:
            # another importer of this archive may have re-read it since
            # this one did
            self._files = cache[self.archive]
            return
        reload(self)
        seen[self.archive] = sig

    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter) and finder.archive in cache:
            seen.setdefault(finder.archive, signature(finder.archive))
    zipimport.zipimporter.invalidate_caches = invalidate_caches


# every engine UDF unpickles by reference into this package, so this runs
# once in each Python worker; driver interpreters are left alone
if "pyspark" in sys.modules and sys.modules["pyspark"].TaskContext.get() is not None:
    _gate_zip_reloads()
