from docling_spark import _worker

if _worker.on_worker():
    _worker.install()
