"""Pipeline plumbing: metadata catalog, versioned table store, DAG runner."""
