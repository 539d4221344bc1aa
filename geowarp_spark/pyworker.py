"""Python worker daemon for ``get_spark`` sessions (``session.py`` says
why).  ``zipimporter.invalidate_caches`` re-reads an archive only when
its stat stamp differs from the one it last read, so a changed or new
archive behaves exactly as before.  The daemon reads each archive once
before it forks, so forked workers start with the stamps."""

import importlib
import os
import zipimport

_read = zipimport.zipimporter.invalidate_caches
_stamps: dict = {}


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _stamps.get(self.archive) != stamp:
        _read(self)
        _stamps[self.archive] = stamp
    else:
        self._files = files


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager
    importlib.invalidate_caches()
    manager()
