"""pyspark's Python worker daemon, minus the per-task zip re-read: each task's
``importlib.invalidate_caches()`` would make every zipimporter on the worker
path re-read its whole archive directory.  Forked workers inherit the no-op;
``FileFinder`` caches are still invalidated.  See ``session.py``."""

if __name__ == "__main__":
    import zipimport

    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = lambda self: None
    daemon.manager()
