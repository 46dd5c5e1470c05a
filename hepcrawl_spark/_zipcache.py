"""Re-read a zip archive's directory only when the archive has changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. Before Python 3.13 that makes every ``zipimporter`` on
``sys.path_importer_cache`` re-read its archive's whole directory: one
importer per imported package inside ``pyspark.zip``, the py4j zip and the
spark-core jar (16 in a PySpark 4.1.2 worker), ~220 ms per task on 4 cores.
Here an importer re-reads only when the archive's ``(st_mtime_ns, st_size)``
differs from the last read, and otherwise shares the directory that
``zipimport._zip_directory_cache`` already holds. A rewritten archive
(``addPyFile``, ``--py-files``) is still re-read. Python 3.13 made the call
lazy for the same reason; there this module changes nothing.
"""

import os
import sys
import zipimport

if sys.version_info < (3, 13):
    _read = zipimport.zipimporter.invalidate_caches
    _stamps: dict[str, tuple[int, int]] = {}

    def _invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is not None and stamp == _stamps.get(self.archive):
            files = zipimport._zip_directory_cache.get(self.archive)
            if files is not None:
                self._files = files
                return
        _stamps.pop(self.archive, None)
        _read(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            _stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = _invalidate_caches
