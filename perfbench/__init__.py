"""Layered benchmark for phphinder_spark: cold segment serving and mixed
read/write serving, each a closed loop with one client. See README.md."""
