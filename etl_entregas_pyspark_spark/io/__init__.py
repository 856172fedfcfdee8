"""Sources (``io.readers``, the one place files are opened) and sinks (``io.writers``)."""
