"""E/L + transform benchmark for onetl_spark; see README.md."""
