"""The sparkmill benchmark (see ``perfbench/README.md``)."""
